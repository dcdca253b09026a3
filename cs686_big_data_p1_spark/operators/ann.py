"""Approximate similarity search via random-hyperplane LSH (SURVEY.md §2.I E3).

The 100 TB scale path for embedding similarity: `knn_bruteforce`
(operators/llm.py) is O(n_candidates * n_queries) and exists as the
recall oracle; the queries here prune candidate generation to LSH
bucket-mates so per-query work is bounded by bucket occupancy, not the
corpus size.

Construction (Charikar 2002 sign-LSH): N_TABLES independent hash
tables, each hashing a vector to an N_BITS key where bit b is the sign
of the dot product with a pseudo-random hyperplane. Collision
probability per bit is 1 - theta/pi, so true near-duplicates
(theta -> 0) collide with probability -> 1 while random pairs are
pruned — exactly the asymmetry a dedup/similarity pass wants.

Determinism contract (everything here must hash-match a DuckDB oracle):
  * Hyperplane component (t, b, i) is derived from
    md5("hyperplane|t|b|i") — identical in Python's hashlib (used to
    build Spark literals) and DuckDB's md5() (used in the oracle SQL).
  * Every dot product / norm uses the fixed-point bigint fold from
    functions/vector.py, so bit signs and cosines are bit-identical
    across engines regardless of fold order.

Scale shape: bucket keys come from one Arrow-vectorized pass over the
embedding column (no shuffle; see _buckets_pd for why not column
folds); the only shuffles are groupBy/join on compact
(table, bucket) int keys; the query side is broadcast. Oversized
buckets (skew) are handled upstream for dedup by the exact-dup
prefilter in dedup_near; for ann the bucket fan-in is 2^N_BITS-bounded
in expectation and AQE skew-join covers pathological keys.
"""

from __future__ import annotations

import hashlib
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window

from ..functions.iterate import iterate
from ..functions.legs import parallel_legs
from ..functions.pairs import bucket_pairs
from ..functions.vector import SCALE
from ..functions.vector import norm as v_norm
from ..functions.vector import (
    exact_cosine,
    pair_cosine,
    pair_doti_q_pd,
    pair_sqdist_q_pd,
    top_k,
)
from ..registry import query, track_cache
from ..sources.snapshots import commit_increment, read_manifest, subdirs
from ..tables import fixture_memo, fixture_store, load_table
from .llm import KNN_K, KNN_N_QUERIES, KNN_ORACLE, knn_bruteforce
from .splits import SPLIT_BOUNDS

EMB_DIM = 64
N_TABLES = 8
N_BITS = 6
# The query split and k of knn_bruteforce, the truth every recall
# report grades against: bound, not restated, so the two cannot drift.
ANN_K = KNN_K
ANN_N_QUERIES = KNN_N_QUERIES
DEDUP_COS_THRESHOLD = 0.35
# Cap on (t, bucket) occupancy for dedup candidate generation. A fixed
# N_BITS key gives expected occupancy n / 2^N_BITS, so an uncapped
# bucket self-join is Theta(n^2 / 2^N_BITS) pairs — quadratic at scale.
# Buckets above the cap are skipped (accounted by
# dedup_embedding_skipped_buckets); identical-vector pileups are exact
# duplicates and belong to the cheaper exact/minhash passes anyway.
# Deploy note: N_BITS must grow ~log2(n / target_occupancy) with corpus
# size (n=1e9 @ occupancy 50 -> ~24 bits), keeping the cap a skew guard
# rather than a recall limiter.
MAX_BUCKET_VECS = 50


def _plane(t: int, b: int) -> list[float]:
    """Pseudo-random hyperplane (t, b): component i in [-1, 1] derived
    from md5 so the DuckDB oracle can regenerate the identical values."""
    out = []
    for i in range(1, EMB_DIM + 1):
        h = int(
            hashlib.md5(f"hyperplane|{t}|{b}|{i}".encode()).hexdigest()[:15], 16
        )
        out.append((h % 2001 - 1000) / 1000.0)
    return out


# All 48 hyperplanes as one (N_TABLES*N_BITS, EMB_DIM) float64 matrix,
# row t*N_BITS + b, captured in the UDF closure below.
_PLANES = np.array(
    [_plane(t, b) for t in range(N_TABLES) for b in range(N_BITS)],
    dtype=np.float64,
)
_BIT_WEIGHTS = np.array(
    [1 << b for _ in range(N_TABLES) for b in range(N_BITS)], dtype=np.int64
)


@F.pandas_udf(ArrayType(IntegerType()))  # DataType object: no session needed
def _buckets_pd(emb: pd.Series) -> pd.Series:
    """All N_TABLES bucket keys for each vector, Arrow-batched.

    Per element the math is exactly the quantized fold the oracle
    replays: floor(x_i * r_i * 1e12) summed as int64, bit b set iff the
    sum is >= 0. numpy float64 multiply/floor/int64-sum are
    bit-identical to the Spark column expressions, so bucket keys (and
    the DuckDB oracle) are unchanged; this is ~100x faster than the
    interpreted per-bit F.aggregate folds it replaces. Sub-batching
    bounds the B x 48 x 64 intermediate at ~25 MB.
    """
    out = []
    arr = emb.to_numpy()
    for lo in range(0, len(arr), 2048):
        X = np.stack(arr[lo : lo + 2048]).astype(np.float64)
        q = np.floor(X[:, None, :] * _PLANES[None, :, :] * 1e12).astype(np.int64)
        bits = (q.sum(axis=2) >= 0).astype(np.int64) * _BIT_WEIGHTS
        buckets = bits.reshape(-1, N_TABLES, N_BITS).sum(axis=2)
        out.extend(buckets.astype(np.int32))
    return pd.Series(out)


def _bucketed(e: DataFrame) -> DataFrame:
    """vec_id, embedding -> (vec_id, embedding, t, bucket) with one row
    per hash table. Bucket keys come from one vectorized pass over the
    embedding column (no shuffle); posexplode fans out the per-table
    rows afterwards."""
    return e.select(
        "vec_id",
        "embedding",
        F.posexplode(_buckets_pd(F.col("embedding"))).alias("t", "bucket"),
    )


# Oracle-side regeneration of the same planes / buckets. DuckDB's
# md5/printf match hashlib byte-for-byte; (h % 2001 - 1000)/1000.0 is the
# same IEEE double; floor(x*r*1e12) quantization makes the bit signs
# fold-order independent.
_BUCKETS_CTE = f"""
planes AS (
  SELECT t, b, i,
         (CAST(('0x' || substr(md5(printf('hyperplane|%d|%d|%d', t, b, i)),
                        1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0 AS r
  FROM (SELECT unnest(generate_series(0, {N_TABLES - 1})) AS t)
  CROSS JOIN (SELECT unnest(generate_series(0, {N_BITS - 1})) AS b)
  CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM})) AS i)
),
ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
bits AS (
  SELECT e.vec_id, p.t, p.b,
         CASE WHEN sum(CAST(floor(e.x * p.r * 1e12) AS BIGINT)) >= 0
              THEN CAST(power(2, p.b) AS INTEGER) ELSE 0 END AS bv
  FROM ex e JOIN planes p ON e.i = p.i
  GROUP BY e.vec_id, p.t, p.b
),
buckets AS (
  SELECT vec_id, t, CAST(sum(bv) AS INTEGER) AS bucket
  FROM bits GROUP BY vec_id, t
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
)
"""

ANN_LSH_ORACLE = f"""
WITH {_BUCKETS_CTE},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
  WHERE q.vec_id < {ANN_N_QUERIES} AND c.vec_id >= {ANN_N_QUERIES}
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN ex q ON q.vec_id = cd.query_id
  JOIN ex c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.norm * nc.norm) AS cosine,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot / (nq.norm * nc.norm) DESC,
                                     d.neighbor_id ASC) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
WHERE rank <= {ANN_K}
"""


@query("ann_lsh", oracle=ANN_LSH_ORACLE)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k cosine search (E3 scale path).

    Candidates for each query are its bucket-mates in any of the
    N_TABLES hash tables, so scored pairs are ~n/2^N_BITS per table per
    query instead of n. Candidate id-pairs are deduped before the
    (expensive) cosine step; the small query side is broadcast twice —
    once for bucket probing, once to attach query embeddings.
    tests/test_ann.py asserts recall vs knn_bruteforce.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # The query and candidate slices are bucketed separately, so each
    # vector is hashed once with no cache and no count job (sf0.1 A/B,
    # 4 pairs: ann_recall 2.58 vs 2.78 s with an eager bucket cache).
    is_q = F.col("vec_id") < ANN_N_QUERIES
    qb = _bucketed(e.where(is_q)).select(
        F.col("vec_id").alias("query_id"), "t", "bucket"
    )
    cb = _bucketed(e.where(~is_q)).select(
        F.col("vec_id").alias("neighbor_id"), "t", "bucket"
    )
    cand = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vecs = _with_norm(e)
    return top_k(exact_cosine(vecs, vecs, cand), "cosine", ANN_K)


IVF_NPROBE = 4  # cells probed per query

# CORPUS-ADAPTIVE cell count (VERDICT r9 #3): a fixed nlist makes cell
# occupancy grow O(N), so within-cell work (SemDeDup all-pairs, IVF
# probe scans) quietly re-quadratizes at 100x. nlist = ceil(sqrt(n)) —
# the FAISS sizing convention — balances the two corpus-scale costs:
# the assignment pass is O(n * nlist) and within-cell pair work is
# O(n * n/nlist), so sqrt(n) makes BOTH O(n^1.5); the r9-suggested
# linear form ceil(n / target) kept occupancy constant but sent the
# assignment crossJoin to O(n^2/target), which the r10 sf1 scale run
# actually MEASURED (ann_recall exponent 1.24 before this fix). The
# oracle mirrors the identical expression as a scalar subquery —
# correctly-rounded IEEE sqrt/ceil of an exact integer double agree
# across engines — so adaptivity costs no exactness.


def _nlist(n: int) -> int:
    """Adaptive coarse-cell count: ceil(sqrt(n)), min 1."""
    import math

    return max(1, math.ceil(math.sqrt(n)))


def _corpus_n(spark: SparkSession, sf_dir: str) -> int:
    """Embeddings row count, memoized per fixture (ADVICE r10): _nlist
    sizing is control flow, but e.count() during query CONSTRUCTION is
    an eager full-scan job, and ann_recall_all composes five index legs
    that each need it."""
    return fixture_memo(
        spark,
        sf_dir,
        "corpus_n",
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


# Oracle-side mirror of _nlist over the embeddings table.
_NLIST_SQL = (
    "(SELECT greatest(1, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))"
    " AS BIGINT)) FROM embeddings)"
)

# Oracle CTEs: the per-component explode `exd` and the fixed-point norms.
_EXD_NORMS = """exd AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM exd GROUP BY vec_id
)"""

# Oracle tail: exact fixed-point cosine refine of a (query_id,
# neighbor_id) `short` list to the final top-ANN_K, over `exd`/`norms`.
_REFINE_TAIL = f"""dots AS (
  SELECT sh.query_id, sh.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM short sh
  JOIN exd q ON q.vec_id = sh.query_id
  JOIN exd c ON c.vec_id = sh.neighbor_id AND c.i = q.i
  GROUP BY sh.query_id, sh.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.norm * nc.norm) AS cosine,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot / (nq.norm * nc.norm) DESC,
                                     d.neighbor_id ASC) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
WHERE rank <= {ANN_K}
"""

# Deterministic "trained" centroids: the embeddings of the first
# nlist candidate vectors (vec_id in [ANN_N_QUERIES,
# ANN_N_QUERIES + nlist)). A k-means pass would give better cells
# but is not oracle-replayable; seeded data vectors keep the full
# assign/probe/score pipeline exact in both engines.

KNN_IVF_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
cdots AS (
  SELECT v.vec_id, c.vec_id AS cid,
         CAST(sum(CAST(floor(v.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v JOIN ex c ON c.i = v.i
  WHERE c.vec_id >= {ANN_N_QUERIES}
    AND c.vec_id < {ANN_N_QUERIES} + {_NLIST_SQL}
  GROUP BY v.vec_id, c.vec_id
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN ex q ON q.vec_id = cd.query_id
  JOIN ex c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.norm * nc.norm) AS cosine,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot / (nq.norm * nc.norm) DESC,
                                     d.neighbor_id ASC) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
WHERE rank <= {ANN_K}
"""


_COS_CB = ("vec_id AS cid", "embedding AS cent_emb", "norm AS cent_norm")


def _seed_cells(frame: DataFrame, k: int) -> DataFrame:
    """The first k candidate vectors, vec_id in [ANN_N_QUERIES,
    ANN_N_QUERIES + k): the seeds of every codebook the oracles can
    replay. `.selectExpr(*_COS_CB)` turns a (vec_id, embedding, norm)
    slice into a cosine codebook with cid = vec_id."""
    return frame.where(
        (F.col("vec_id") >= ANN_N_QUERIES)
        & (F.col("vec_id") < ANN_N_QUERIES + k)
    )


def _seed_book(e: DataFrame, nlist: int) -> list:
    """The seeded codebook as driver rows (cid, cent_emb, cent_norm):
    one collect of the nlist-row id slice _seed_cells names."""
    return _seed_cells(_with_norm(e), nlist).selectExpr(*_COS_CB).collect()


def _seeded(spark: SparkSession, sf_dir: str) -> list:
    """The fixture's seeded codebook rows, memoized per fixture like
    _corpus_n: every seeded-cell query ranks against the same nlist
    rows, so they are collected once per application."""
    return fixture_memo(
        spark,
        sf_dir,
        "seed_book",
        lambda: _seed_book(
            load_table(spark, sf_dir, "embeddings"),
            _nlist(_corpus_n(spark, sf_dir)),
        ),
    )


def _on_fixture(core, spark: SparkSession, sf_dir: str) -> DataFrame:
    """A seeded-IVF core(e, n, cells) bound to the fixture: its
    embeddings table, its memoized corpus count and seeded codebook —
    the one body of every seeded-IVF query wrapper."""
    return core(
        load_table(spark, sf_dir, "embeddings"),
        n=_corpus_n(spark, sf_dir),
        cells=_seeded(spark, sf_dir),
    )


def _with_norm(e: DataFrame) -> DataFrame:
    return e.select("vec_id", "embedding", v_norm(F.col("embedding")).alias("norm"))


_CELLS = "cid array<bigint>, dq array<bigint>, cn array<double>"


def _cos_rank(vecs: DataFrame, cents, k: int, keep: tuple = ()) -> DataFrame:
    """(vec_id, *keep, cid, cscore, rk) for each (vec_id, embedding,
    norm) row's k best cells of the codebook `cents`, driver rows
    (cid, cent_emb, cent_norm), by fixed-point cosine, ties on
    ascending cid. Assignment depends only on (row, codebook), never
    on other rows — the reason a frozen-codebook append is mergeable.

    One Arrow kernel per batch, no join and no shuffle: the codebook
    rides in the UDF closure (O(nlist x d), the size a broadcast
    shipped), each row's floor(x*c*1e12) int64 sums against every cell
    are numpy sums in pair_dot_q_pd's operand order, and a stable
    argsort keeps the k best. cscore is then recomputed in the JVM as
    (dq / 1e12) / (norm * cent_norm), pair_dot_pd's exact expression,
    so the value is bit-identical to the relational form and a
    zero-norm row still raises ANSI DIVIDE_BY_ZERO."""
    book = sorted((int(c), list(emb), float(cn)) for c, emb, cn in cents)
    cid = np.array([b[0] for b in book], dtype=np.int64)
    cmat = np.array([b[1] for b in book], dtype=np.float64)
    cnorm = np.array([b[2] for b in book], dtype=np.float64)
    kk = min(k, len(book))
    # rows per sub-batch: bounds the B x nlist x d intermediate at ~25 MB
    step = max(1, (25 << 20) // (8 * max(cmat.size, 1)))

    @F.pandas_udf(_CELLS)
    def cells(emb: pd.Series, norm: pd.Series) -> pd.DataFrame:
        out = {"cid": [], "dq": [], "cn": []}
        nv = norm.to_numpy()
        for lo in range(0, len(emb) if kk else 0, step):
            x = np.stack(emb.iloc[lo : lo + step].to_numpy()).astype(np.float64)
            dq = np.floor(x[:, None, :] * cmat[None, :, :] * SCALE)
            dq = dq.astype(np.int64).sum(axis=2)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = dq / SCALE / (nv[lo : lo + step, None] * cnorm[None, :])
            top = np.argsort(-s, axis=1, kind="stable")[:, :kk]
            out["cid"].extend(cid[top])
            out["dq"].extend(np.take_along_axis(dq, top, axis=1))
            out["cn"].extend(cnorm[top])
        if not kk:
            out = {c: [[]] * len(emb) for c in out}
        return pd.DataFrame(out)

    c = cells(F.col("embedding"), F.col("norm"))
    ranked = vecs.select(
        "vec_id",
        *keep,
        F.col("norm").alias("_norm"),
        F.posexplode(F.arrays_zip(c.cid, c.dq, c.cn)).alias("_pos", "_c"),
    )
    return ranked.select(
        "vec_id",
        *keep,
        F.col("_c.cid").alias("cid"),
        (
            F.col("_c.dq").cast("double")
            / F.lit(SCALE)
            / (F.col("_norm") * F.col("_c.cn"))
        ).alias("cscore"),
        (F.col("_pos") + 1).alias("rk"),
    )


def _probed(probes: DataFrame, assigned: DataFrame) -> DataFrame:
    """(query_id, neighbor_id): every vector assigned to one of the
    query's probed cells, the probe table broadcast."""
    return F.broadcast(probes).join(assigned, "cid").select(
        "query_id", "neighbor_id"
    )


def _queries(vecs: DataFrame) -> DataFrame:
    return vecs.where(F.col("vec_id") < ANN_N_QUERIES)


def _coarse_cells(
    e: DataFrame,
    n: int | None = None,
    trained: bool = False,
    cells: list | None = None,
):
    """The IVF coarse quantizer: returns (vecs, probes, assigned, nlist)
    — vecs = (vec_id, embedding, norm) cached, probes = each query's
    IVF_NPROBE nearest cells (query_id, cid), assigned = each candidate
    vector's nearest cell (neighbor_id, cid), nlist = the cell count
    used. `n` = corpus row count if the caller already knows it (query
    wrappers pass _corpus_n; ADVICE r10), else counted off the cache.

    trained=False: nlist seeded cells (cid = vec_id) ranked by cosine;
    `cells` = their codebook rows if the caller holds them (query
    wrappers pass the fixture memo _seeded with n), else collected here.
    trained=True: kmeans_cells' quantizer — CELLS_ITERS sample-capped
    Lloyd rounds (cid = sample rank - 1), probes and assignments by
    exact integer squared distance, ties on cid.

    Deliberately NOT memoized across the legs of a composed query
    (VERDICT r11 #4, measured and REJECTED): sharing the triple between
    knn_ivf and knn_ivfpq inside ann_recall_all made the composed query
    SLOWER, 13.4 -> 19.8 s warm at sf0.1 (cache alone 15.8 s,
    lazy-shared 14.9 s). The legs are independent subtrees whose stages
    OVERLAP across cores, so the second derivation is nearly free
    wall-clock, while a shared cached stage serializes the critical
    path."""
    vecs = track_cache(_with_norm(e))
    # Adaptive nlist (VERDICT r9 #3): one aggregated long to the driver,
    # control flow only — it sizes the codebook, never data.
    nlist = _nlist(vecs.count() if n is None else n)
    if trained:
        qv = track_cache(_quant_vecs(e))
        assigned, cb = _lloyd(
            qv,
            nlist,
            CELLS_ITERS + 1,
            samp=_md5_sample(e, "ivftrain", IVF_TRAIN_CAP),
        )
        probes = _sq_rank(qv, cb, IVF_NPROBE)
    else:
        if cells is None:
            cells = _seed_book(e, nlist)
        assigned = probes = _cos_rank(vecs, cells, IVF_NPROBE)
    return (
        vecs,
        probes.where(F.col("vec_id") < ANN_N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "cid"
        ),
        assigned.where(
            (F.col("rk") == 1) & (F.col("vec_id") >= ANN_N_QUERIES)
        ).select(F.col("vec_id").alias("neighbor_id"), "cid"),
        nlist,
    )


@query("knn_ivf", oracle=KNN_IVF_ORACLE)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search (E3 scale
    path #2, the FAISS-style alternative to sign-LSH).

    Index build: every candidate vector is assigned to its nearest of
    ceil(sqrt(n)) coarse centroids (one map-side _cos_rank kernel pass
    — at scale this is the partitioning key the corpus would be
    *stored* by, making a probe a partition-pruned scan). Query: score
    the IVF_NPROBE nearest cells' inverted lists only, so per-query
    work is ~ n * nprobe / nlist instead of n.

    All assignment and scoring math is the quantized fixed-point fold
    (Arrow-vectorized), bit-identical to the DuckDB oracle; ties break
    on ascending id everywhere so ranks are deterministic.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vecs, probes, assigned, _ = _coarse_cells(
        e, n=_corpus_n(spark, sf_dir), cells=_seeded(spark, sf_dir)
    )
    scored = exact_cosine(_queries(vecs), vecs, _probed(probes, assigned))
    return top_k(scored, "cosine", ANN_K)


def recall_report(
    truth: DataFrame, approx: DataFrame, methods: DataFrame
) -> DataFrame:
    """Micro-averaged recall of each approximate method against the
    (query_id, neighbor_id) truth. `approx` is a union of (key,
    query_id, neighbor_id) rows; `methods` has one row per key value.
    Returns methods' columns plus n_hits (0 for a method with no hit),
    n_true and recall = n_hits / n_true: exact integer counts and one
    IEEE division, so the double is bit-identical across engines."""
    key = approx.columns[0]
    hits = (
        approx.join(truth, ["query_id", "neighbor_id"])
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    tc = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return (
        methods.join(hits, key, "left")
        .crossJoin(F.broadcast(tc))
        .select(
            *methods.columns,
            n_hits.alias("n_hits"),
            F.col("n_true").cast("long").alias("n_true"),
            (n_hits.cast("double") / F.col("n_true")).alias("recall"),
        )
    )


def _graded_legs(spark: SparkSession, sf_dir: str, legs: list):
    """(truth, approx) for a recall report: knn_bruteforce's top-k
    (cached; every leg joins it) and the union of each (tag, fn) leg's
    (method, query_id, neighbor_id) rows, fn(spark, sf_dir) built
    concurrently with the truth (functions/legs.py, guide §2.6)."""
    built = parallel_legs(
        lambda: knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        *[lambda fn=fn: fn(spark, sf_dir) for _, fn in legs],
    )
    approx = reduce(
        DataFrame.unionByName,
        [
            df.select(F.lit(tag).alias("method"), "query_id", "neighbor_id")
            for (tag, _), df in zip(legs, built[1:])
        ],
    )
    return track_cache(built[0]), approx


ANN_RECALL_ORACLE = f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({KNN_ORACLE})),
lsh AS (SELECT query_id, neighbor_id FROM ({ANN_LSH_ORACLE})),
ivf AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_ORACLE})),
approx AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
),
hits AS (
  SELECT a.method, count(*) AS n_hits
  FROM approx a JOIN truth t
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY a.method
),
tc AS (SELECT count(*) AS n_true FROM truth)
SELECT m.method,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(tc.n_true AS BIGINT) AS n_true,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tc.n_true AS recall
FROM (SELECT 'lsh' AS method UNION ALL SELECT 'ivf') m
LEFT JOIN hits h ON h.method = m.method
CROSS JOIN tc
"""


@query("ann_recall", oracle=ANN_RECALL_ORACLE)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of each approximate index vs the brute-force ground
    truth — the self-measurement that makes N_BITS / IVF_NPROBE tuning
    empirical instead of blind (FAISS benchmarks report exactly this).

    Micro-averaged: recall = total true-neighbor hits across all
    queries / total true neighbors, one exact int division so the
    double is bit-identical across engines (a macro-average would sum
    doubles in engine-dependent order). Both approximate paths and the
    ground truth are deterministic, so this query is oracle-replayable
    end-to-end; tests/test_ann.py pins per-method floors at sf0.001.

    Scale: truth/lsh/ivf are the audited bounded pipelines; the join
    keys are (query_id, neighbor_id) int pairs, the aggregate is
    2 rows, and the 1-row truth count is broadcast. The three
    pipelines are constructed concurrently (functions/legs.py, guide
    §2.6) so their plan-time jobs overlap.
    """
    legs = [("lsh", ann_lsh), ("ivf", knn_ivf)]
    truth, approx = _graded_legs(spark, sf_dir, legs)
    methods = spark.createDataFrame([(t,) for t, _ in legs], "method string")
    return recall_report(truth, approx, methods)


DEDUP_EMBEDDING_ORACLE = f"""
WITH {_BUCKETS_CTE},
capped AS (
  SELECT vec_id, t, bucket
  FROM (SELECT vec_id, t, bucket,
               count(*) OVER (PARTITION BY t, bucket) AS bsz
        FROM buckets)
  WHERE bsz <= {MAX_BUCKET_VECS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
dots AS (
  SELECT cd.vec_a, cd.vec_b,
         CAST(sum(CAST(floor(xa.x * xb.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN ex xa ON xa.vec_id = cd.vec_a
  JOIN ex xb ON xb.vec_id = cd.vec_b AND xb.i = xa.i
  GROUP BY cd.vec_a, cd.vec_b
)
SELECT d.vec_a, d.vec_b, d.dot / (na.norm * nb.norm) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dot / (na.norm * nb.norm) >= {DEDUP_COS_THRESHOLD}
"""


@query("dedup_embedding", oracle=DEDUP_EMBEDDING_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup pass of
    a training-data pipeline): LSH bucket-mates with cosine >= 0.35.

    True near-duplicates (cosine -> 1) collide in some table with
    probability -> 1, so LSH candidate generation loses essentially
    nothing at the dedup operating point while never forming the
    quadratic all-pairs set. Self-join is on (t, bucket) int keys only;
    embeddings are attached per side after pair dedup.

    Scale guard: buckets holding more than MAX_BUCKET_VECS vectors are
    skipped before the self-join (the window count shares the join's
    own (t, bucket) shuffle, so the cap is free). Without it a skewed
    or undersized-N_BITS bucket makes the pair set Theta(n^2/2^N_BITS).
    Skipped buckets are observable via dedup_embedding_skipped_buckets.
    """
    return dedup_embedding_pairs(load_table(spark, sf_dir, "embeddings"))


def dedup_embedding_pairs(e: DataFrame) -> DataFrame:
    """Core of dedup_embedding over any (vec_id, embedding) frame (the
    query wrapper binds it to the fixture table; tests feed synthetic
    degenerate corpora)."""
    return _bucket_mates(e).where(F.col("cosine") >= DEDUP_COS_THRESHOLD)


def _bucket_mates(e: DataFrame, directed: bool = False) -> DataFrame:
    """(vec_a, vec_b, cosine) for every pair of LSH bucket-mates of the
    (vec_id, embedding) frame `e`, buckets above MAX_BUCKET_VECS
    skipped: dedup_embedding's candidates (a < b) and knn_graph's
    (`directed`, both orientations)."""
    # No cache: bucket_pairs' self-join reuses one (t, bucket) exchange
    # for both sides, so the bucketing UDF runs once per execution.
    bk = _bucketed(e.select("vec_id", "embedding")).select("vec_id", "t", "bucket")
    cand = bucket_pairs(bk, "vec_id", ["t", "bucket"], MAX_BUCKET_VECS, directed)
    vecs = e.select("vec_id", "embedding", v_norm(F.col("embedding")).alias("norm"))
    return pair_cosine(cand, vecs, "vec_a", "vec_b")


# --- the IVF store: one snapshot table of incremental versions ------------
#
# The physical store is a snapshot table (sources/snapshots.py) whose
# versions are incremental. Version N holds only the files mutation N
# wrote: data under v=N/cid=<c>/ and tombstones under
# v=N/_tombstones/cell=<c>/ (cid stays a column inside tombstone files:
# the tombstone dirs of two versions cannot share one partition-
# discovering read). Its v=N/_manifest.json maps each cell to its live
# data and tombstone directories across all versions. A mutation loads
# the latest manifest (version v), stages its new files and the next
# manifest, and publishes both as exactly v + 1 through
# snapshots.commit_increment's verified rename: a reader sees a whole
# mutation or none of it, a crash leaves v serving, and a concurrent
# writer's commit raises instead of being shadowed. Directories of
# older versions that the new manifest no longer names are deleted
# after the publish. Each mutation writes files only into the cells it
# touches; every read goes through read_ivf_store, which reads exactly
# the manifest's directories of the cells asked for (no schema
# inference job).

_IVF_DATA = "vec_id bigint, embedding array<float>, v int, cid int"  # v, cid: path
_IVF_TOMBS = "vec_id bigint, cid bigint"


def _ivf_dirs(path: str, man: dict, kind: str, cids) -> list[str]:
    want = None if cids is None else {int(c) for c in cids}
    return [
        f"{path}/{d}"
        for c, dirs in sorted(man.get(kind, {}).items())
        if want is None or int(c) in want
        for d in dirs
    ]


def read_ivf_store(
    spark: SparkSession,
    path: str,
    cids=None,
    rows: str = "live",
    man: dict | None = None,
) -> DataFrame:
    """The store's rows in cells `cids` (every cell when None) as of
    its latest version (or of manifest `man`): "all" stored rows
    (vec_id, embedding, cid), "dead" tombstones (vec_id, cid), or
    "live" stored rows no tombstone names. Only the named cells'
    directories are read, and an empty selection is a typed empty
    frame."""
    if man is None:
        man = read_manifest(spark, path)[0]
    tombs = _ivf_dirs(path, man, "tombs", cids)
    if rows == "dead":
        if not tombs:
            return spark.createDataFrame([], _IVF_TOMBS)
        reader = spark.read.schema(_IVF_TOMBS)
        return reader.option("recursiveFileLookup", "true").parquet(*tombs)
    data = _ivf_dirs(path, man, "data", cids)
    stored = (
        spark.read.schema(_IVF_DATA).option("basePath", path).parquet(*data)
        if data
        else spark.createDataFrame([], _IVF_DATA)
    ).select("vec_id", "embedding", "cid")
    if rows == "all" or not tombs:
        return stored
    dead = read_ivf_store(spark, path, cids, "dead", man).select("vec_id")
    return stored.join(dead, "vec_id", "left_anti")


probe_ivf_store_live = read_ivf_store  # the name perfbench calls


def _commit_ivf(
    spark: SparkSession,
    path: str,
    man: dict,
    version: int,
    rows: DataFrame,
    tombs: bool = False,
    drop=(),
) -> None:
    """Publish version + 1 of the store: manifest `man` (read at
    `version`) without the cells in `drop`, plus `rows` written as new
    per-cell directories: data rows (vec_id, embedding, cid), or
    tombstones (vec_id, cid, cell) when `tombs`. Publishes nothing when
    that adds and drops nothing; raises IOError if another writer
    published version + 1 first."""
    nxt = {
        kind: {c: list(d) for c, d in man.get(kind, {}).items() if int(c) not in drop}
        for kind in ("data", "tombs")
    }
    sub, part = ("/_tombstones", "cell") if tombs else ("", "cid")
    cells = nxt["tombs" if tombs else "data"]

    def write_stage(stage: str, name: str) -> dict | None:
        rows.write.partitionBy(part).parquet(stage + sub)
        for d in subdirs(spark, stage + sub):
            if d.startswith(f"{part}="):
                cells.setdefault(d.split("=", 1)[1], []).append(f"{name}{sub}/{d}")
        return None if nxt == man else nxt

    commit_increment(spark, path, version, write_stage)


def _build_ivf_store(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """(Re)build the store as exactly `rows` (vec_id, embedding, cid):
    a version whose manifest names only its own new directories."""
    man, v = read_manifest(spark, path)
    cells = {int(c) for kind in man.values() for c in kind}
    _commit_ivf(spark, path, man, v, rows, drop=cells)


def _fold_ivf_store(
    spark: SparkSession, path: str, keys: DataFrame, vecs: DataFrame | None = None
) -> None:
    """The one idempotent add: fold `keys` (vec_id, cid) into the store
    as data rows, each embedding joined from `vecs`, or as tombstones
    when `vecs` is None. Ids their cell already holds are skipped, so
    a replayed fold publishes nothing (at-least-once delivery +
    this fold = exactly-once contents). The frozen codebook puts a
    replayed id in the same cell, so the existing-id read covers only
    the keys' cells: a fold costs O(touched cells), not O(store)."""
    keys = keys.select("vec_id", F.col("cid").cast("bigint"))
    man, v = read_manifest(spark, path)
    kind = "tombs" if vecs is None else "data"
    if man.get(kind):  # else the store holds no id to skip: no cell list
        # `keys` stays lazy (read by the cell list, the empty check and
        # the write): a key set that is costly to derive is checkpointed
        # where it is built (_curation_drops).
        # Bounded control flow: <= nlist distinct cells.
        cids = [r.cid for r in keys.select("cid").distinct().collect()]
        if _ivf_dirs(path, man, kind, cids):
            rows = "dead" if vecs is None else "all"
            have = read_ivf_store(spark, path, cids, rows, man)
            keys = keys.join(have.select("vec_id"), "vec_id", "left_anti")
            if keys.isEmpty():  # every id already held: nothing to stage
                return
    if vecs is None:
        fresh = keys.withColumn("cell", F.col("cid"))
    else:
        fresh = vecs.join(keys, "vec_id").select("vec_id", "embedding", "cid")
    _commit_ivf(spark, path, man, v, fresh, tombs=vecs is None)


def write_ivf_store(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the IVF index as the cell-partitioned store, one
    directory per inverted list: the physical layout the knn_ivf
    docstring promises at 100 TB — probing IVF_NPROBE cells reads those
    cells' files and never touches the other nlist - nprobe."""
    e = load_table(spark, sf_dir, "embeddings")
    _, _, assigned, _ = _coarse_cells(
        e, n=_corpus_n(spark, sf_dir), cells=_seeded(spark, sf_dir)
    )
    rows = e.join(assigned, e.vec_id == assigned.neighbor_id)
    _build_ivf_store(spark, path, rows.select("vec_id", "embedding", "cid"))


def dedup_embedding_skipped_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Accounting for dedup_embedding's scale guard: the (t, bucket)
    groups whose occupancy exceeded MAX_BUCKET_VECS and were therefore
    excluded from candidate generation. Empty on healthy N_BITS sizing;
    non-empty output is the operational signal to raise N_BITS."""
    return skipped_buckets(load_table(spark, sf_dir, "embeddings"))


def skipped_buckets(e: DataFrame) -> DataFrame:
    return (
        _bucketed(e.select("vec_id", "embedding"))
        .groupBy("t", "bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .where(F.col("n_vecs") > MAX_BUCKET_VECS)
        .orderBy("t", "bucket")
    )


# --- Semantic dedup (SemDeDup, Abbas et al. 2023) -----------------------

SEM_TAU = DEDUP_COS_THRESHOLD  # within-cell drop threshold

DEDUP_SEMANTIC_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
cdots AS (
  SELECT v.vec_id, c.vec_id AS cid,
         CAST(sum(CAST(floor(v.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v JOIN ex c ON c.i = v.i
  WHERE c.vec_id >= {ANN_N_QUERIES}
    AND c.vec_id < {ANN_N_QUERIES} + {_NLIST_SQL}
  GROUP BY v.vec_id, c.vec_id
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id, cid, cscore AS cent_cosine FROM (
    SELECT vec_id, cid, cscore,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores)
  WHERE rk = 1
),
ranked AS (
  SELECT vec_id, cid, cent_cosine,
         row_number() OVER (PARTITION BY cid
                            ORDER BY cent_cosine DESC, vec_id ASC) AS crank
  FROM assigned
),
pairs AS (
  SELECT a.vec_id AS keeper, b.vec_id AS candidate
  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.crank < b.crank
),
pdots AS (
  SELECT p.keeper, p.candidate,
         CAST(sum(CAST(floor(xa.x * xb.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM pairs p
  JOIN ex xa ON xa.vec_id = p.keeper
  JOIN ex xb ON xb.vec_id = p.candidate AND xb.i = xa.i
  GROUP BY p.keeper, p.candidate
),
drops AS (
  SELECT DISTINCT d.candidate AS vec_id
  FROM pdots d
  JOIN norms na ON na.vec_id = d.keeper
  JOIN norms nb ON nb.vec_id = d.candidate
  WHERE d.dot / (na.norm * nb.norm) >= {SEM_TAU}
)
SELECT r.vec_id, r.cid, r.cent_cosine, (dr.vec_id IS NULL) AS kept
FROM ranked r LEFT JOIN drops dr ON dr.vec_id = r.vec_id
"""


def sem_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture corpus's cell assignment, memoized per fixture:
    THREE queries consume the identical n x sqrt(n) assignment pass —
    dedup_semantic, corpus_curate_semantic (via dedup_semantic), and
    decontaminate_semantic (r13). Eager localCheckpoint: lineage cut,
    immutable blocks."""

    def build() -> DataFrame:
        vecs = _with_norm(load_table(spark, sf_dir, "embeddings"))
        return (
            _cos_rank(vecs, _seeded(spark, sf_dir), 1)
            .selectExpr("vec_id", "cid", "cscore AS cent_cosine")
            .localCheckpoint(eager=True)
        )

    return fixture_memo(spark, sf_dir, "sem_assign", build)


def semantic_dedup(
    e: DataFrame,
    n: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Core of dedup_semantic over any (vec_id, embedding) frame.
    `n` = known corpus count (ADVICE r10), else counted off the cache;
    `assigned` = a prebuilt (vec_id, cid, cent_cosine) assignment
    (sem_assignment's memo for the fixture corpus), else every
    vector's nearest seeded cell by fixed-point cosine. Cells =
    ceil(sqrt(n)) (VERDICT r9 #3), so assignment (n * ncells) and
    within-cell all-pairs (n * occupancy) are both O(n^1.5)."""
    vecs = track_cache(_with_norm(e))
    if assigned is None:
        nlist = _nlist(vecs.count() if n is None else n)
        assigned = _cos_rank(vecs, _seed_book(e, nlist), 1).selectExpr(
            "vec_id", "cid", "cscore AS cent_cosine"
        )
    w_cell = Window.partitionBy("cid").orderBy(
        F.desc("cent_cosine"), F.asc("vec_id")
    )
    ranked = track_cache(
        assigned.withColumn("crank", F.row_number().over(w_cell))
    )
    a = ranked.select(
        F.col("vec_id").alias("keeper"), "cid", F.col("crank").alias("ka")
    )
    b = ranked.select(
        F.col("vec_id").alias("candidate"), "cid", F.col("crank").alias("kb")
    )
    pairs = (
        a.join(b, "cid")
        .where(F.col("ka") < F.col("kb"))
        .select("keeper", "candidate")
    )
    drops = (
        pair_cosine(pairs, vecs, "keeper", "candidate")
        .where(F.col("cosine") >= SEM_TAU)
        .select(F.col("candidate").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        ranked.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            "cent_cosine",
            F.col("_dropped").isNull().alias("kept"),
        )
    )


@query("dedup_semantic", oracle=DEDUP_SEMANTIC_ORACLE)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (VERDICT r8 #6): assign every
    vector to its nearest seeded centroid cell, rank cell members by
    centroid-cosine (the SemDeDup "distance to centroid" order), and
    DROP any member whose cosine to a HIGHER-RANKED cell-mate reaches
    SEM_TAU — keeping exactly the centroid-nearest representative of
    each within-cell near-dup neighborhood. Emits every vector with
    its cell, centroid cosine, and kept verdict.

    Oracle-replayable like knn_ivf: centroids are the seeded data
    vectors (a kmeans_cells model would cluster better but is not
    SQL-expressible — same trade, documented there), and every
    dot/norm is the fixed-point bigint fold, so assignment, ranking,
    and the drop verdicts are bit-identical in DuckDB.

    Scale (the SemDeDup design point): all-pairs work happens ONLY
    within a cell, and since r10 the cell count is CORPUS-ADAPTIVE
    (VERDICT r9 #3): ncells = ceil(sqrt(n)), so the assignment pass
    (n x ncells) and the within-cell pair volume (n x occupancy)
    are BOTH O(n^1.5) at any corpus size — the fixed-16-cell
    constant this replaces let cell size grow O(n) and quietly
    re-quadratized at 100x
    (tests/test_ann.py pins the occupancy bound on a 10x-size
    fixture). The pair join is on the int cell id; embeddings attach
    per side after the rank filter; scoring is the Arrow-vectorized
    fold. The within-cell window partitions on cid — bounded by cell
    occupancy, same envelope as the pair join itself."""
    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        n=_corpus_n(spark, sf_dir),
        assigned=sem_assignment(spark, sf_dir),
    )


# --- Fixed-point Lloyd k-means (oracle-exact clustering) ---------------

LLOYD_ITERS = 2  # Lloyd rounds (each = assign + recenter), unrolled in SQL
_LQ = 1_000_000  # component quantum: q = floor(x * 1e6) bigint


def _lloyd_cte_chain(iters: int) -> str:
    """CTE chain for the fixed-point Lloyd recurrence, parameterized by
    round count (VERDICT r9 #1 — shared by kmeans_lloyd, kmeans_cells,
    and knn_ivf_trained): quantized explode `ex`, seeded centroids
    `c0`, then `iters` unrolled assign/recenter rounds. Ends with
    a{iters} = (vec_id, cid, dist) final assignments and d{iters} = the
    full final-round distance table (knn_ivf_trained derives its query
    probes from it)."""
    lo = ANN_N_QUERIES
    parts = [
        f"""
ex AS (
  SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * {_LQ}) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
c0 AS (
  SELECT vec_id - {lo} AS cid, i, q FROM ex
  WHERE vec_id >= {lo} AND vec_id < {lo} + {_NLIST_SQL}
)"""
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        parts.append(f"""
d{it} AS (
  SELECT e.vec_id, c.cid,
         sum((e.q - c.q) * (e.q - c.q)) AS dist
  FROM ex e JOIN {prev} c ON c.i = e.i
  GROUP BY e.vec_id, c.cid
),
a{it} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM d{it})
  WHERE rk = 1
)""")
        if it < iters:
            parts.append(f"""
c{it} AS (
  SELECT a.cid, e.i, sum(e.q) // count(*) AS q
  FROM a{it} a JOIN ex e ON e.vec_id = a.vec_id
  GROUP BY a.cid, e.i
)""")
            prev = f"c{it}"
    return ",".join(parts)


def _lloyd_oracle() -> str:
    return (
        "WITH " + _lloyd_cte_chain(LLOYD_ITERS)
        + f"""
SELECT vec_id, CAST(cid AS INTEGER) AS cell, CAST(dist AS BIGINT) AS dist_q
FROM a{LLOYD_ITERS}
"""
    )


def _quant_vecs(e: DataFrame) -> DataFrame:
    """(vec_id, sub_q): each whole embedding as ONE quantized subspace,
    the engine-standard floor(x * 1e6) per component (one interpreted
    HOF pass per ROW — never per candidate pair; the pair work runs in
    the Arrow kernel pair_sqdist_q_pd)."""
    return e.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _LQ).cast("bigint"),
        ).alias("sub_q"),
    )


def _unit_q(
    e: DataFrame, dims: int = EMB_DIM, keep: tuple = ()
) -> DataFrame:
    """(vec_id, *keep, uq): the unit quantizer every codec of the
    family encodes from — the first `dims` components normalized by
    their own fixed-point-fold norm, q_i = floor(x_i / norm * 1e6)
    (the oracles' uqd/puq convention). SQ8 and binary encode all
    EMB_DIM of them, the MRL funnel a prefix, unit PQ slices them into
    subspaces. One array<bigint> column, no component fan-out: the
    norm is a column first, so the transform reads it once per row."""
    p = e.select("vec_id", *keep, F.slice("embedding", 1, dims).alias("p"))
    return p.withColumn("pn", v_norm(F.col("p"))).select(
        "vec_id",
        *keep,
        F.transform(
            "p",
            lambda x: F.floor(
                x.cast("double") / F.col("pn") * F.lit(float(_LQ))
            ).cast("long"),
        ).alias("uq"),
    )


def _sq_rank(
    pts: DataFrame, cents: DataFrame, k: int, by: tuple = ()
) -> DataFrame:
    """(vec_id, *by, cid, dist, rk) for each (vec_id, *by, sub_q) point's
    k nearest codewords of the broadcast codebook (*by, cid, cq_arr) by
    exact int64 squared distance, ties on ascending cid. by = ("s",)
    scores every PQ subspace at once (an equi-join on s instead of a
    crossJoin). The distance is ONE Arrow kernel call per pair
    (pair_sqdist_q_pd); the relational form — component explode, join
    on the index, rollup — paid an n x k x d fan-out, measured 2-4x
    slower at sf0.1."""
    cb = F.broadcast(cents)
    pairs = pts.join(cb, list(by)) if by else pts.crossJoin(cb)
    w = Window.partitionBy("vec_id", *by).orderBy(F.asc("dist"), F.asc("cid"))
    return (
        pairs.select(
            "vec_id",
            *by,
            "cid",
            pair_sqdist_q_pd(F.col("sub_q"), F.col("cq_arr")).alias("dist"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def _md5_sample(e: DataFrame, salt: str, cap: int) -> DataFrame:
    """(vec_id, rk): the `cap` vectors with the smallest
    md5('<salt>|'||vec_id), ranked in that order (rk 1..cap) — a
    deterministic, engine/run-stable bottom-k training sample.
    orderBy+limit is a distributed TakeOrdered — never a full sort —
    and the row_number window runs over the already-capped frame."""
    h = F.md5(F.format_string(f"{salt}|%d", F.col("vec_id")))
    capped = (
        e.select("vec_id", h.alias("h")).orderBy("h", "vec_id").limit(cap)
    )
    w = Window.orderBy("h", "vec_id")
    return capped.withColumn("rk", F.row_number().over(w)).select(
        "vec_id", "rk"
    )


def _lloyd(
    pts: DataFrame,
    k: int,
    iters: int,
    by: tuple = (),
    samp: DataFrame | None = None,
):
    """Fixed-point Lloyd k-means over the points (vec_id, *by, sub_q):
    `iters` rounds, each an assignment (dist ASC, cid ASC) followed —
    except in the last — by a recenter to each cell's componentwise
    truncating integer mean (SQL `div`); a memberless cell DROPS, as a
    groupBy recenter emits only occupied cells. Returns (assigned,
    codebook): the last round's _sq_rank assignment of every point and
    the (*by, cid, cq_arr) codebook it used. by = ("s",) trains every
    PQ subspace at once.

    samp=None, distributed (kmeans_lloyd, pq_encode_lloyd): seeds are
    the first k candidates (cid = vec_id - ANN_N_QUERIES); the state
    of functions/iterate.py's iterate is the codebook, and each of the
    iters - 1 recenter rounds is one corpus pass (assignment with the
    codebook broadcast, then the recenter rollup), shuffling only the
    argmin window and the rollup. iterate cuts the seed and every
    recentered codebook; the final assignment is cut once more.

    samp = an _md5_sample (vec_id, rk) frame, sampled (the FAISS
    train() convention, VERDICT r12 #3): seeds are the first k sample
    vectors (cid = rk - 1); the first iters - 1 rounds run DRIVER-SIDE
    in numpy int64 over ONE cap-bounded collect, so training cost never
    scales with the corpus, and only the last assignment is a corpus
    pass. The argmin is over |c|^2 - 2 x.c: the row-constant |x|^2
    cannot move an integer argmin or its ties, and q <= ~2e6 with
    d <= 64 keeps every term far below 2^63. numpy's first-min over
    sorted cids is the cid ASC tie rule, so both forms give identical
    codebooks and assignments on the same points and seeds
    (tests/test_ann.py pins this)."""
    if samp is None:

        def recenter(cents: DataFrame, _: int) -> DataFrame:
            return (
                _sq_rank(pts, cents, 1, by)
                .join(pts, ["vec_id", *by])
                .select(*by, "cid", F.posexplode("sub_q").alias("j", "q"))
                .groupBy(*by, "cid", "j")
                .agg(F.expr("sum(q) div count(*)").alias("cq"))
                .groupBy(*by, "cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("j", "cq"))),
                        lambda c: c["cq"],
                    ).alias("cq_arr")
                )
            )

        seed = _seed_cells(pts, k).select(
            *by,
            (F.col("vec_id") - ANN_N_QUERIES).alias("cid"),
            F.col("sub_q").alias("cq_arr"),
        )
        cents, _ = iterate(seed, recenter, iters - 1)
        # the one assignment callers read is cut too, so their plans
        # scan a materialized table, not the argmin window
        return _sq_rank(pts, cents, 1, by).localCheckpoint(eager=True), cents
    rows = (
        pts.join(F.broadcast(samp), "vec_id")
        .select(*by, "rk", "sub_q")
        .collect()
    )  # bounded: <= cap rows per subspace — driver-side by design
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault(tuple(r[: len(by)]), []).append((r.rk, r.sub_q))
    cb = []
    for g, grp in sorted(groups.items()):
        grp.sort()
        x = np.array([q for _, q in grp], dtype=np.int64)
        cents = {rk - 1: x[i] for i, (rk, _) in enumerate(grp) if rk <= k}
        for _ in range(iters - 1):
            cids = sorted(cents)
            cm = np.stack([cents[cid] for cid in cids])
            amin = ((cm * cm).sum(axis=1) - 2 * (x @ cm.T)).argmin(axis=1)
            cents = {}
            for i, cid in enumerate(cids):
                if len(members := x[amin == i]):
                    tot = members.sum(axis=0)
                    cents[cid] = np.sign(tot) * (np.abs(tot) // len(members))
        cb += [(*g, c, [int(v) for v in cents[c]]) for c in sorted(cents)]
    codebook = pts.sparkSession.createDataFrame(
        cb, "".join(f"{b} int, " for b in by) + "cid int, cq_arr array<bigint>"
    )
    return _sq_rank(pts, codebook, 1, by), codebook


@query("kmeans_lloyd", oracle=_lloyd_oracle())
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means in pure FIXED-POINT integer arithmetic — the
    oracle-EXACT clustering kmeans_cells (MLlib, rows-only by design)
    cannot be: components quantize to 1e6-scaled bigints, distances
    are exact integer sums of squares, recentering is component-wise
    integer floor-division means, ties break (dist ASC, cid ASC) —
    every assignment in every round is bit-identical in DuckDB, which
    replays the {LLOYD_ITERS} unrolled rounds as CTEs (the pagerank
    idiom applied to clustering). Seeds are the IVF data-vector
    centroids, so the whole trajectory is deterministic.

    Scale: see _lloyd's distributed form — the k-row codebook is
    BROADCAST into each round's assignment; the corpus is never
    shuffled on a data key. Quantization is the determinism price: at
    1e-6 resolution the assignment differs from float Lloyd only for
    points near-equidistant at that scale — and in exchange retries,
    partitionings, and engines can never disagree."""
    e = load_table(spark, sf_dir, "embeddings")
    nlist = _nlist(_corpus_n(spark, sf_dir))
    assigned, _ = _lloyd(track_cache(_quant_vecs(e)), nlist, LLOYD_ITERS)
    return assigned.select(
        "vec_id",
        F.col("cid").cast("int").alias("cell"),
        F.col("dist").alias("dist_q"),
    )


# Production trainer depth: kmeans_lloyd demonstrates the recurrence in
# {LLOYD_ITERS} rounds; the index-build queries (kmeans_cells /
# knn_ivf_trained) train deeper. Still a fixed unroll so the oracle
# replays the identical trajectory.
CELLS_ITERS = 4

# --- Sample-capped coarse-quantizer train (VERDICT r12 #3) ----------------
#
# kmeans_cells / knn_ivf_trained originally ran every Lloyd round as a
# corpus-scale n x nlist pass — CELLS_ITERS + 1 passes of the suite's
# most super-linear shape (nlist = sqrt(n), so each pass is n^1.5).
# FAISS trains the coarse quantizer on a bounded sample (train() cost
# never scales with the corpus), and the r12 PQ queries already made
# that convention oracle-exact — this applies the identical trick to
# the IVF coarse quantizer: the training sample is the IVF_TRAIN_CAP
# vectors with the smallest md5('ivftrain|'||vec_id) (deterministic,
# engine/run-stable bottom-k), seeds are the first nlist sample
# vectors in that same md5 order, CELLS_ITERS fixed-point
# assign+recenter rounds run DRIVER-SIDE in numpy int64 over the
# cap-bounded sample (bit-identical to the distributed rounds — see
# _lloyd for the argmin/tdiv/drop-empty contract), and the
# ONE remaining corpus-scale pass is the final broadcast-codebook
# assignment. The oracle replays sample, training, and assignment
# unchanged, so both queries stay hash-exact.
IVF_TRAIN_CAP = 4096


def _ivf_sampled_ctes(iters: int) -> str:
    """Oracle CTE chain mirroring _lloyd's sampled form as
    kmeans_cells runs it: quantized explode `ex`, md5 bottom-k sample
    `samp`, sample slice `sx`, seeds `ic0` (first nlist sample vectors,
    cid = rk - 1), `iters` unrolled assign/recenter rounds over the
    sample, then the full-corpus final assignment — fd = the complete
    (vec_id, cid, dist) distance table (probes derive from it), fa =
    the argmin assignment."""
    parts = [
        f"""
ex AS (
  SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * {_LQ}) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
samp AS (
  SELECT vec_id, rk FROM (
    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rk
    FROM (SELECT vec_id, md5(printf('ivftrain|%d', vec_id)) AS h
          FROM embeddings))
  WHERE rk <= {IVF_TRAIN_CAP}
),
sx AS (
  SELECT m.rk, e.vec_id, e.i, e.q
  FROM ex e JOIN samp m ON m.vec_id = e.vec_id
),
ic0 AS (
  SELECT rk - 1 AS cid, i, q FROM sx WHERE rk <= {_NLIST_SQL}
)"""
    ]
    prev = "ic0"
    for r in range(1, iters + 1):
        parts.append(f"""
id{r} AS (
  SELECT e.vec_id, c.cid, sum((e.q - c.q) * (e.q - c.q)) AS dist
  FROM sx e JOIN {prev} c ON c.i = e.i
  GROUP BY e.vec_id, c.cid
),
ia{r} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM id{r})
  WHERE rk = 1
),
ic{r} AS (
  SELECT a.cid, e.i, sum(e.q) // count(*) AS q
  FROM ia{r} a JOIN sx e ON e.vec_id = a.vec_id
  GROUP BY a.cid, e.i
)""")
        prev = f"ic{r}"
    parts.append(f"""
fd AS (
  SELECT e.vec_id, c.cid, sum((e.q - c.q) * (e.q - c.q)) AS dist
  FROM ex e JOIN ic{iters} c ON c.i = e.i
  GROUP BY e.vec_id, c.cid
),
fa AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM fd)
  WHERE rk = 1
)""")
    return ",".join(parts)


KMEANS_CELLS_ORACLE = (
    "WITH "
    + _ivf_sampled_ctes(CELLS_ITERS)
    + """
SELECT vec_id, CAST(cid AS INTEGER) AS cell
FROM fa
"""
)


@query("kmeans_cells", oracle=KMEANS_CELLS_ORACLE)
def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained coarse quantizer for IVF: {CELLS_ITERS}-round FIXED-POINT
    Lloyd (kmeans_lloyd's arithmetic, trained deeper) with
    SAMPLE-CAPPED oracle-exact training, emitting each vector's cell —
    the production index-build step (FAISS's train() analog) that
    replaces knn_ivf's raw seed vectors when recall matters. Graduated
    from MLlib k-means|| to the fixed-point recurrence in r10 (VERDICT
    r9 #1) and from full-corpus to cap-bounded training in r13
    (VERDICT r12 #3, the pq_encode convention): the codebook comes
    from CELLS_ITERS driver-side numpy rounds over the md5
    bottom-IVF_TRAIN_CAP sample, and the corpus sees exactly ONE
    broadcast-codebook assignment pass instead of CELLS_ITERS + 1
    n x nlist passes. DuckDB replays sample, training, and assignment
    as unrolled CTEs, so this stays hash-exact. The pytest additionally
    pins that the trained cells beat the raw seed cells on inertia.

    Scale: see _lloyd's sampled form — training cost is bounded by the
    cap, never the corpus; the one corpus pass is the knn_ivf
    assignment shape (broadcast k-row codebook, Arrow int64 kernel,
    map-side-combinable argmin)."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = _lloyd(
        track_cache(_quant_vecs(e)),
        _nlist(_corpus_n(spark, sf_dir)),
        CELLS_ITERS + 1,
        samp=_md5_sample(e, "ivftrain", IVF_TRAIN_CAP),
    )
    return assigned.select(
        "vec_id", F.col("cid").cast("int").alias("cell")
    )


# Product quantization: split each vector into PQ_M contiguous
# sub-vectors and vector-quantize each subspace independently with a
# small seeded codebook. Codes compress a 64-dim float vector to PQ_M
# bytes — the storage layout FAISS's IndexPQ / IVFPQ uses for
# billion-vector search.
PQ_M = 4  # sub-spaces (64 dims -> 4 x 16)
PQ_K = 16  # centroids per sub-space (one 4-bit code each)
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace (64 -> 4 x 16)


# --- Sample-capped fixed-point PQ train (FAISS train() convention) -------
#
# pq_encode_lloyd trains on the FULL corpus; at deployment FAISS caps
# codebook training at a fixed-size sample so train() cost never scales
# with the corpus. These helpers make that convention oracle-exact:
# the sample is the PQ_TRAIN_CAP vectors with the smallest
# md5('pqtrain|'||vec_id) (deterministic, engine/run-stable bottom-k),
# the PQ_K seeds are the first PQ_K vectors in that same md5 order, and
# training runs LLOYD_ITERS full assign+recenter rounds over the sample
# in fixed-point bigint arithmetic; encoding the full corpus is then a
# single broadcast-codebook assignment pass. Every step replays
# bit-identically in DuckDB.

PQ_TRAIN_CAP = 4096  # codebook-training sample size (FAISS convention)


def _pq_sampled_ctes(exname: str) -> str:
    """Oracle CTE chain mirroring _lloyd's sampled PQ form over
    the subspace-explode CTE named `exname`: samp (md5 bottom-k with
    rank), sc0 (md5-rank seeds), LLOYD_ITERS full assign+recenter
    rounds on the sample, scb = trained codebook, enc = full-corpus
    final assignment (vec_id, s, cid, dist)."""
    parts = [
        f"""
samp AS (
  SELECT vec_id, rk FROM (
    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rk
    FROM (SELECT vec_id, md5(printf('pqtrain|%d', vec_id)) AS h
          FROM embeddings))
  WHERE rk <= {PQ_TRAIN_CAP}
),
sx AS (
  SELECT e.vec_id, e.s, e.j, e.q FROM {exname} e
  JOIN samp m ON m.vec_id = e.vec_id
),
sc0 AS (
  SELECT m.rk - 1 AS cid, e.s, e.j, e.q
  FROM {exname} e JOIN samp m ON m.vec_id = e.vec_id
  WHERE m.rk <= {PQ_K}
)"""
    ]
    prev = "sc0"
    for r in range(1, LLOYD_ITERS + 1):
        parts.append(f"""
sd{r} AS (
  SELECT e.vec_id, e.s, c.cid,
         sum((e.q - c.q) * (e.q - c.q)) AS dist
  FROM sx e JOIN {prev} c ON c.s = e.s AND c.j = e.j
  GROUP BY e.vec_id, e.s, c.cid
),
sa{r} AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM sd{r})
  WHERE rk = 1
),
sc{r} AS (
  SELECT a.s, a.cid, e.j, sum(e.q) // count(*) AS q
  FROM sa{r} a JOIN sx e ON e.vec_id = a.vec_id AND e.s = a.s
  GROUP BY a.s, a.cid, e.j
)""")
        prev = f"sc{r}"
    parts.append(f"""
scb AS (SELECT s, cid, j, q FROM {prev}),
ed AS (
  SELECT e.vec_id, e.s, c.cid,
         sum((e.q - c.q) * (e.q - c.q)) AS dist
  FROM {exname} e JOIN scb c ON c.s = e.s AND c.j = e.j
  GROUP BY e.vec_id, e.s, c.cid
),
enc AS (
  SELECT vec_id, s, cid, dist FROM (
    SELECT vec_id, s, cid, dist,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM ed)
  WHERE rk = 1
)""")
    return ",".join(parts)


PQ_ENCODE_ORACLE = (
    "WITH "
    + f"""
pex AS (
  SELECT vec_id, (i - 1) // {PQ_SUB} AS s, (i - 1) % {PQ_SUB} + 1 AS j,
         CAST(floor(CAST(x AS DOUBLE) * {_LQ}) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),"""
    + _pq_sampled_ctes("pex")
    + "\nSELECT vec_id,\n       "
    + ",\n       ".join(
        f"CAST(max(CASE WHEN s = {m} THEN cid END) AS INTEGER) AS code_{m}"
        for m in range(PQ_M)
    )
    + "\nFROM enc\nGROUP BY vec_id\n"
)


@query("pq_encode", oracle=PQ_ENCODE_ORACLE)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode with SAMPLE-CAPPED oracle-exact
    training — the FAISS deployment convention (train() cost bounded by
    PQ_TRAIN_CAP, never the corpus) made hash-exact (VERDICT r9 #1,
    graduated from MLlib k-means|| in r10): codebooks come from
    LLOYD_ITERS fixed-point assign+recenter rounds over the md5
    bottom-k sample, seeds are the first PQ_K sample vectors in md5
    order, and the full corpus is encoded in one broadcast-codebook
    pass. pq_encode_lloyd is the full-corpus-train sibling; this one is
    what a 100 TB index build would actually run. The pytest pins
    run-to-run determinism and the code range/arity contract
    (tests/test_er_timeseries.py).

    Scale: training shuffles are O(PQ_TRAIN_CAP x EMB_DIM); the encode
    is one broadcast join + map-side-combinable bigint rollup; codes
    shuffle as PQ_M small ints (16x compression of a 64-dim vector).
    The codec alone: _pq_train over the raw subspaces, _pq_codes."""
    e = load_table(spark, sf_dir, "embeddings")
    encoded, _ = _pq_train(e, track_cache(_pq_subspaces(e)))
    return _pq_codes(encoded)


# --- Oracle-exact PQ: fixed-point per-subspace Lloyd train/encode/search --
#
# pq_encode (above) is rows-only because MLlib's k-means|| fit is not
# SQL-replayable. This section is the same FAISS train()->encode()->
# search() pipeline built on kmeans_lloyd's fixed-point arithmetic
# instead, so every codebook component, code assignment, and ADC
# distance is a bigint both engines compute identically: PQ becomes
# oracle-EXACT end to end. Reference anchor: the checksum pipeline's
# determinism contract (storage/StorageNode.java:171-208) applied to
# vector compression.

def _pq_lloyd_ctes() -> str:
    """Shared oracle CTE chain for the fixed-point PQ train: quantized
    subspace explode `pex` (point key = (vec_id, s), component j), the
    seeded codebooks `pc0` (sub-slices of the first PQ_K candidate
    vectors), LLOYD_ITERS unrolled assign/recenter rounds over ALL
    PQ_M subspaces at once, ending at pa{LLOYD_ITERS} =
    (vec_id, s, cid, dist) plus `cb` = the codebook the final
    assignment used (the one ADC must score with)."""
    lo, hi = ANN_N_QUERIES, ANN_N_QUERIES + PQ_K
    parts = [
        f"""
pex AS (
  SELECT vec_id, (i - 1) // {PQ_SUB} AS s, (i - 1) % {PQ_SUB} + 1 AS j,
         CAST(floor(CAST(x AS DOUBLE) * {_LQ}) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
pc0 AS (
  SELECT vec_id - {lo} AS cid, s, j, q FROM pex
  WHERE vec_id >= {lo} AND vec_id < {hi}
)"""
    ]
    prev = "pc0"
    for it in range(1, LLOYD_ITERS + 1):
        parts.append(f"""
pd{it} AS (
  SELECT e.vec_id, e.s, c.cid,
         sum((e.q - c.q) * (e.q - c.q)) AS dist
  FROM pex e JOIN {prev} c ON c.s = e.s AND c.j = e.j
  GROUP BY e.vec_id, e.s, c.cid
),
pa{it} AS (
  SELECT vec_id, s, cid, dist FROM (
    SELECT vec_id, s, cid, dist,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM pd{it})
  WHERE rk = 1
)""")
        if it < LLOYD_ITERS:
            parts.append(f"""
pc{it} AS (
  SELECT a.s, a.cid, e.j, sum(e.q) // count(*) AS q
  FROM pa{it} a JOIN pex e ON e.vec_id = a.vec_id AND e.s = a.s
  GROUP BY a.s, a.cid, e.j
)""")
            prev = f"pc{it}"
    parts.append(f"""
cb AS (SELECT s, cid, j, q FROM {prev})""")
    return ",".join(parts)


def _pq_encode_lloyd_oracle() -> str:
    codes = ",\n       ".join(
        f"CAST(max(CASE WHEN s = {m} THEN cid END) AS INTEGER) AS code_{m}"
        for m in range(PQ_M)
    )
    return (
        "WITH "
        + _pq_lloyd_ctes()
        + f"""
SELECT vec_id,
       {codes}
FROM pa{LLOYD_ITERS}
GROUP BY vec_id
"""
    )


def _knn_pq_adc_oracle() -> str:
    return (
        "WITH "
        + _pq_lloyd_ctes()
        + f""",
dt AS (
  SELECT e.vec_id AS query_id, c.s, c.cid,
         sum((e.q - c.q) * (e.q - c.q)) AS d
  FROM pex e JOIN cb c ON c.s = e.s AND c.j = e.j
  WHERE e.vec_id < {ANN_N_QUERIES}
  GROUP BY e.vec_id, c.s, c.cid
),
adc AS (
  SELECT t.query_id, a.vec_id AS neighbor_id,
         CAST(sum(t.d) AS BIGINT) AS adc_q
  FROM pa{LLOYD_ITERS} a
  JOIN dt t ON t.s = a.s AND t.cid = a.cid
  WHERE a.vec_id >= {ANN_N_QUERIES}
  GROUP BY t.query_id, a.vec_id
)
SELECT query_id, neighbor_id, adc_q, rank FROM (
  SELECT query_id, neighbor_id, adc_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_q ASC, neighbor_id ASC) AS rank
  FROM adc)
WHERE rank <= {ANN_K}
"""
    )


def _pq_subspaces(e: DataFrame, unit: bool = False) -> DataFrame:
    """(vec_id, s, sub_q array<bigint>): PQ_M slices of each quantized
    embedding — the n x PQ_M row form every PQ stage scores from (the
    long (vec_id, s, j, q) form derives from it map-side via
    posexplode when recentering needs components). unit=False slices
    _quant_vecs' floor(x * 1e6); unit=True slices _unit_q's quantized
    unit vector (knn_ivfpq's replayable unit quantization)."""
    q = _unit_q(e).withColumnRenamed("uq", "sub_q") if unit else _quant_vecs(e)
    subs = [F.slice("sub_q", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    return q.select(
        "vec_id", F.posexplode(F.array(*subs)).alias("s", "sub_q")
    )


def _pq_train(e: DataFrame, rows: DataFrame):
    """Codec: the sample-capped PQ trainer shared by pq_encode, raw PQ
    and residual PQ — LLOYD_ITERS + 1 fixed-point Lloyd rounds over
    the (vec_id, s, sub_q) `rows` of e's md5 bottom-k sample, then one
    encode pass over all of `rows`. Returns _lloyd's (encoded,
    codebook)."""
    samp = track_cache(_md5_sample(e, "pqtrain", PQ_TRAIN_CAP))
    return _lloyd(rows, PQ_K, LLOYD_ITERS + 1, ("s",), samp)


def _pq_codes(encoded: DataFrame) -> DataFrame:
    """(vec_id, code_0 .. code_{PQ_M-1}): one row of PQ codes per
    vector, pivoted from an encoded (vec_id, s, cid) frame."""
    return encoded.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == m, F.col("cid")))
            .cast("int")
            .alias(f"code_{m}")
            for m in range(PQ_M)
        ]
    )


def _adc(
    qsub: DataFrame,
    codebook: DataFrame,
    encoded: DataFrame,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Search: the PQ asymmetric-distance join (FAISS IndexPQ ADC,
    Jegou et al. 2011) shared by raw PQ, residual PQ and knn_pq_adc.
    `qsub` = (query_id, [cid,] s, sub_q) query sub-vectors, per query
    or per (query, probed cell); each builds its PQ_M x PQ_K table of
    exact integer squared distances to the (s, cid, cq_arr)
    `codebook` once, BROADCAST. The candidates' stored codes (vec_id
    >= ANN_N_QUERIES rows of the (vec_id, s, cid) `encoded` frame,
    restricted to the (query_id, [cid,] neighbor_id) `cand` pairs if
    given, else paired with every query) join it on the keys they
    share and sum to (query_id, neighbor_id, adc_q) — code-width ints
    only, never a candidate's raw floats."""
    keys = [c for c in qsub.columns if c != "sub_q"]
    dt = qsub.join(
        F.broadcast(codebook.withColumnRenamed("cid", "kcid")), "s"
    ).select(
        *keys,
        "kcid",
        pair_sqdist_q_pd(F.col("sub_q"), F.col("cq_arr")).alias("d"),
    )
    codes = encoded.where(F.col("vec_id") >= ANN_N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        "s",
        F.col("cid").alias("kcid"),
    )
    pairs = codes if cand is None else cand.join(codes, "neighbor_id")
    on = [c for c in dt.columns if c in pairs.columns]
    return (
        pairs.join(F.broadcast(dt), on)
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_q"))
    )


def _query_subspaces(e: DataFrame, unit: bool = False) -> DataFrame:
    """(query_id, s, sub_q): the query rows' _pq_subspaces, from a
    FILTERED scan. ADC tables live inside broadcast subtrees, which
    Spark runs as concurrent jobs at action start; derived from a
    shared lazily-cached corpus frame, that job recomputed the FULL
    corpus projection before filtering to the handful of query rows
    (a 32-task 6.3 core-s duplicate stage). The vec_id < ANN_N_QUERIES
    filter pushes down to parquet instead, and _pq_subspaces is
    per-row, so filter-then-project is bit-identical."""
    return _pq_subspaces(
        e.where(F.col("vec_id") < ANN_N_QUERIES), unit
    ).withColumnRenamed("vec_id", "query_id")


@query("pq_encode_lloyd", oracle=_pq_encode_lloyd_oracle())
def pq_encode_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode with ORACLE-EXACT training: the
    same per-subspace codebook layout as pq_encode, but the codebooks
    come from the fixed-point Lloyd recurrence (kmeans_lloyd's
    arithmetic applied per 16-dim slice), so DuckDB replays the whole
    train+assign trajectory via unrolled CTEs and the emitted codes
    hash-match bit for bit — the FAISS train()->encode() contract with
    a provable answer instead of a seeded-run determinism pytest.

    Scale: see _lloyd — one job per Lloyd round for all subspaces,
    broadcast codebooks, bigint-only shuffles; the encode output
    shuffles PQ_M small ints per vector (16x compression of a 64-dim
    float vector into 4 codes)."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = track_cache(_pq_subspaces(e))
    assigned, _ = _lloyd(sq, PQ_K, LLOYD_ITERS, ("s",))
    return _pq_codes(assigned)


@query("knn_pq_adc", oracle=_knn_pq_adc_oracle())
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k search (FAISS IndexPQ, METRIC_L2)
    over the fixed-point Lloyd codebooks — the search half of
    pq_encode_lloyd, and the first *trained* ANN query in the repo
    whose whole pipeline (codebook training included) is oracle-exact:
    each query builds a PQ_M x PQ_K table of exact integer squared
    distances to every codebook centroid once; a candidate's distance
    is then the sum of PQ_M table lookups over its stored codes (ADC,
    Jegou et al. 2011) — never touching the candidate's raw floats.

    Scale: the distance table is O(n_queries x PQ_M x PQ_K) rows and
    BROADCAST; candidates flow as (vec_id, s, code) ints, so the
    scoring join + rollup shuffles only code-width data. The final
    top-k window partitions by query_id. No coarse quantizer; codec:
    full-corpus fixed-point Lloyd PQ; search: the _adc join over every
    candidate."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = track_cache(_pq_subspaces(e))
    assigned, codebook = _lloyd(sq, PQ_K, LLOYD_ITERS, ("s",))
    adc = _adc(_query_subspaces(e), codebook, assigned)
    return top_k(adc, "adc_q", ANN_K, asc=True)


KNN_IVF_TRAINED_ORACLE = (
    "WITH "
    + _ivf_sampled_ctes(CELLS_ITERS)
    + f""",
{_EXD_NORMS},
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cid ASC) AS rk
    FROM fd WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
assigned AS (
  SELECT vec_id AS neighbor_id, cid FROM fa
  WHERE vec_id >= {ANN_N_QUERIES}
),
cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN exd q ON q.vec_id = cd.query_id
  JOIN exd c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.norm * nc.norm) AS cosine,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot / (nq.norm * nc.norm) DESC,
                                     d.neighbor_id ASC) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
WHERE rank <= {ANN_K}
"""
)


@query("knn_ivf_trained", oracle=KNN_IVF_TRAINED_ORACLE)
def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k search over the TRAINED coarse quantizer — the piece
    that connects kmeans_cells (the FAISS train() analog) to actual
    search, where knn_ivf uses raw seed-vector centroids instead.
    Graduated to oracle-exact in r10 (VERDICT r9 #1): the quantizer is
    the CELLS_ITERS-round fixed-point Lloyd train, probing ranks exact
    bigint distances, and candidate scoring is the standard fixed-point
    cosine fold — DuckDB replays training, probing, and ranking
    bit-identically via unrolled CTEs. tests/test_ann.py additionally
    pins run-to-run determinism, recall vs knn_bruteforce, and that
    every reported neighbor comes from a probed cell.

    Scale: identical to knn_ivf — the trained centers are an
    O(nlist x dim) broadcast closure, assignment is one training pass,
    probing scores nprobe inverted lists per query; at deployment the
    corpus is STORED partitioned by trained cell (write_ivf_store) so
    a probe is a partition-pruned scan.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vecs, probes, assigned, _ = _coarse_cells(
        e, n=_corpus_n(spark, sf_dir), trained=True
    )
    scored = exact_cosine(_queries(vecs), vecs, _probed(probes, assigned))
    return top_k(scored, "cosine", ANN_K)


# --- IVFPQ: IVF candidate generation + PQ asymmetric-distance scoring ----
#
# knn_ivfpq is the piece that connects pq_encode (the compression
# layout) to actual search — FAISS's IndexIVFPQ: candidates come from
# the IVF coarse quantizer's probed cells, but scoring never touches
# the candidate's raw floats. Each query builds a PQ_M x PQ_K table of
# squared distances from its sub-vectors to every codebook centroid
# once; a candidate's approximate distance is then PQ_M table lookups
# over its stored codes (ADC — asymmetric distance computation,
# Jegou et al. 2011). Cosine ranking is recovered by L2-normalizing
# vectors before quantization: on unit vectors ||q-x||^2 = 2 - 2cos.

IVFPQ_SHORTLIST = 8 * ANN_K  # ADC survivors exactly re-ranked per query


def _ivf_cand_ctes() -> str:
    """Oracle CTEs for the seeded-centroid IVF candidate generation
    (the KNN_IVF_ORACLE pipeline over the raw explode `exd`): cdots /
    cscores / iassigned / probes / cand."""
    return f"""
cdots AS (
  SELECT v.vec_id, c.vec_id AS cid,
         CAST(sum(CAST(floor(v.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM exd v JOIN exd c ON c.i = v.i
  WHERE c.vec_id >= {ANN_N_QUERIES}
    AND c.vec_id < {ANN_N_QUERIES} + {_NLIST_SQL}
  GROUP BY v.vec_id, c.vec_id
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
iassigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN iassigned a ON a.cid = p.cid
)"""


KNN_IVFPQ_ORACLE = (
    "WITH "
    + f"""
{_EXD_NORMS},
uex AS (
  SELECT e.vec_id, (e.i - 1) // {PQ_SUB} AS s, (e.i - 1) % {PQ_SUB} + 1 AS j,
         CAST(floor(e.x / n.norm * {_LQ}) AS BIGINT) AS q
  FROM exd e JOIN norms n ON n.vec_id = e.vec_id
),"""
    + _pq_sampled_ctes("uex")
    + ","
    + _ivf_cand_ctes()
    + f""",
dt AS (
  SELECT u.vec_id AS query_id, c.s, c.cid,
         sum((u.q - c.q) * (u.q - c.q)) AS d
  FROM uex u JOIN scb c ON c.s = u.s AND c.j = u.j
  WHERE u.vec_id < {ANN_N_QUERIES}
  GROUP BY u.vec_id, c.s, c.cid
),
codes AS (
  SELECT vec_id AS neighbor_id, s, cid FROM enc
  WHERE vec_id >= {ANN_N_QUERIES}
),
adc AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(t.d) AS BIGINT) AS adc_q
  FROM cand cd
  JOIN codes k ON k.neighbor_id = cd.neighbor_id
  JOIN dt t ON t.query_id = cd.query_id AND t.s = k.s AND t.cid = k.cid
  GROUP BY cd.query_id, cd.neighbor_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_q ASC, neighbor_id ASC) AS rk
    FROM adc)
  WHERE rk <= {IVFPQ_SHORTLIST}
),
{_REFINE_TAIL}"""
)


@query("knn_ivfpq", oracle=KNN_IVFPQ_ORACLE)
def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ approximate top-k cosine search with exact refinement:
    IVF probed-cell candidate generation (knn_ivf's coarse quantizer),
    PQ asymmetric-distance scoring over PQ_M codes to cut each query's
    candidates to an IVFPQ_SHORTLIST, then exact cosine re-ranking of
    the shortlist only (FAISS IndexIVFPQ + IndexRefineFlat). Graduated
    to oracle-exact in r10 (VERDICT r9 #1): vectors unit-normalize via
    the replayable fixed-point fold (no UDF), codebooks train on the
    md5 bottom-k sample in fixed-point Lloyd arithmetic (pq_encode's
    trainer), and ADC distances are exact integer table-lookup sums —
    DuckDB replays candidate generation, training, encoding, ADC
    shortlisting, and the refine bit for bit. tests/test_ann.py
    additionally pins determinism, recall vs knn_bruteforce,
    probed-cell membership, and that a planted exact duplicate is
    retrieved at rank 1.

    Scale shape: the codebook is PQ_M x PQ_K x PQ_SUB bigint rows
    BROADCAST; each candidate flows through the ADC join as PQ_M ints
    (raw floats never move past the one encode pass); each query ships
    a PQ_M x PQ_K integer distance table; everything stays in
    whole-stage codegen. Exact scoring touches only SHORTLIST vectors
    per query. At 100 TB the corpus is stored partitioned by cell
    (write_ivf_store) with codes as columns, so a probe is a
    partition-pruned scan of ints and the refine stage is a pointwise
    fetch of shortlist rows.
    """
    return _on_fixture(ivfpq_topk, spark, sf_dir)


def ivfpq_topk(
    e: DataFrame, n: int | None = None, cells: list | None = None
) -> DataFrame:
    """Core of knn_ivfpq over any (vec_id, embedding) frame (the query
    wrapper binds it to the fixture table; tests feed synthetic corpora
    with planted exact duplicates). `n` = known corpus count
    (ADVICE r10), else counted inside _coarse_cells off its cache.
    Quantizer: _coarse_cells' seeded cells; codec: _pq_train over the
    unit subspaces; search: the _adc join over probed-cell candidates,
    IVFPQ_SHORTLIST survivors exactly re-ranked."""
    # Unit-normalized quantization is oracle-replayable without a
    # float UDF: norm is the shared fixed-point fold and
    # q = floor(x / norm * 1e6) is two exactly-rounded IEEE ops.
    usq = track_cache(_pq_subspaces(e, unit=True))
    encoded, codebook = _pq_train(e, usq)
    _, probes, assigned, _ = _coarse_cells(e, n=n, cells=cells)
    qsub = _query_subspaces(e, unit=True)
    adc = _adc(qsub, codebook, encoded, _probed(probes, assigned))
    return _exact_refine(e, top_k(adc, "adc_q", IVFPQ_SHORTLIST, asc=True))


def _exact_refine(e: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact cosine re-rank of a (query_id, neighbor_id, ...) shortlist
    against the raw vectors — the IndexRefineFlat tail shared by every
    shortlisting codec (PQ, residual PQ, SQ8, binary, MRL prefix); the
    shortlist's other columns are dropped. Raw floats are read for
    SHORTLIST rows per query only."""
    vecs = _with_norm(e)
    return top_k(exact_cosine(_queries(vecs), vecs, shortlist), "cosine", ANN_K)


def _dot_shortlist(
    e: DataFrame, uq: DataFrame, code, cand: DataFrame | None = None
) -> DataFrame:
    """Search: the int-dot shortlist shared by SQ8, binary and the MRL
    prefix. Queries (vec_id < ANN_N_QUERIES rows of the (vec_id, uq)
    frame, BROADCAST) keep their quantized unit components; candidates
    carry `code`, their decoded codes as an integer-array column over
    uq. Each (query, candidate) pair — the (query_id, neighbor_id)
    `cand` pairs (IVF probed cells) if given, else every candidate
    crossed with the broadcast queries — scores the asymmetric int64
    dot (pair_doti_q_pd, one Arrow kernel call per pair); the top
    IVFPQ_SHORTLIST per query are exactly re-ranked (_exact_refine)."""
    qside = uq.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("uq").alias("q_arr")
    )
    nside = uq.where(F.col("vec_id") >= ANN_N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), code.alias("code")
    )
    if cand is None:
        pairs = nside.join(F.broadcast(qside))
    else:
        pairs = cand.join(nside, "neighbor_id").join(
            F.broadcast(qside), "query_id"
        )
    adc = pairs.select(
        "query_id",
        "neighbor_id",
        pair_doti_q_pd(F.col("q_arr"), F.col("code")).alias("dot2"),
    )
    return _exact_refine(e, top_k(adc, "dot2", IVFPQ_SHORTLIST))


EMB_STATS_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0))
            AS INTEGER) AS n_pos,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1e12) AS BIGINT)))
            AS BIGINT) AS l1_s12,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12)
                      AS BIGINT))) AS BIGINT) AS sq_s12,
       CAST(list_max(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1e12) AS BIGINT)))
            AS BIGINT) AS max_s12
FROM embeddings
"""


@query("embedding_stats", oracle=EMB_STATS_ORACLE)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface over the embedding column:
    transform / filter / aggregate lambdas computing per-vector
    dimension, positive-component count, and quantized L1 / squared-L2
    / max-component — the in-row array math a feature-store sanity
    pass runs before indexing. Every reduction is the fixed-point
    bigint fold (functions/vector.py), so the outputs hash-match
    DuckDB's list_transform/list_filter/list_sum exactly, fold order
    be damned.

    Scale: pure projection — all lambdas evaluate in-row JVM-side
    (no explode, no shuffle, no Python); the scan reads only
    (vec_id, embedding)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    as_q = lambda expr: F.floor(expr * F.lit(SCALE)).cast("bigint")  # noqa: E731
    zero = F.lit(0).cast("bigint")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.size(F.filter(emb, lambda x: x.cast("double") > 0.0)).cast(
            "int"
        ).alias("n_pos"),
        F.aggregate(
            F.transform(emb, lambda x: as_q(F.abs(x.cast("double")))),
            zero,
            lambda acc, x: acc + x,
        ).alias("l1_s12"),
        F.aggregate(
            F.transform(
                emb, lambda x: as_q(x.cast("double") * x.cast("double"))
            ),
            zero,
            lambda acc, x: acc + x,
        ).alias("sq_s12"),
        F.array_max(
            F.transform(emb, lambda x: as_q(x.cast("double")))
        ).alias("max_s12"),
    )


# ------------------------------ knn_graph -------------------------------

KNN_GRAPH_K = 3


KNN_GRAPH_ORACLE = f"""
WITH {_BUCKETS_CTE},
capped AS (
  SELECT vec_id, t, bucket
  FROM (SELECT vec_id, t, bucket,
               count(*) OVER (PARTITION BY t, bucket) AS bsz
        FROM buckets)
  WHERE bsz <= {MAX_BUCKET_VECS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS dst_id
  FROM capped a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id
),
dots AS (
  SELECT cd.src_id, cd.dst_id,
         CAST(sum(CAST(floor(xa.x * xb.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN ex xa ON xa.vec_id = cd.src_id
  JOIN ex xb ON xb.vec_id = cd.dst_id AND xb.i = xa.i
  GROUP BY cd.src_id, cd.dst_id
)
SELECT src_id, dst_id, cosine, rank FROM (
  SELECT d.src_id, d.dst_id,
         d.dot / (na.norm * nb.norm) AS cosine,
         CAST(row_number() OVER (
             PARTITION BY d.src_id
             ORDER BY d.dot / (na.norm * nb.norm) DESC, d.dst_id) AS INTEGER)
             AS rank
  FROM dots d
  JOIN norms na ON na.vec_id = d.src_id
  JOIN norms nb ON nb.vec_id = d.dst_id)
WHERE rank <= {KNN_GRAPH_K}
"""


@query("knn_graph", oracle=KNN_GRAPH_ORACLE)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH over the whole embedding corpus: every
    vector's top-{KNN_GRAPH_K} bucket-mate neighbors by cosine — the
    construction step in front of graph clustering, label propagation,
    and UMAP-style layouts (knn_bruteforce/knn_ivf answer point
    queries; this materializes the neighbor structure for ALL points
    at once).

    Candidates are dedup_embedding's capped LSH bucket-mates — the
    same oracle-replayable seeded hyperplanes — taken DIRECTED (both
    orientations of each bucket pair), then one per-source ranking
    window. A vector whose buckets were all cap-skipped (or whose
    bucket-mates are none) has no edges, exactly like the dedup pass;
    the skip set stays observable via dedup_embedding_skipped_buckets.

    Scale: the self-join keys on (t, bucket) ints with the
    MAX_BUCKET_VECS cap bounding fanout; pair cosines are Arrow
    zip_with folds on candidates only; the ranking window partitions
    on src_id (high-cardinality, per-source candidate counts bounded
    by {MAX_BUCKET_VECS}x tables). No all-pairs anything.
    """
    return knn_graph_edges(load_table(spark, sf_dir, "embeddings"))


def knn_graph_edges(e: DataFrame) -> DataFrame:
    """Core of knn_graph over any (vec_id, embedding) frame: (src_id,
    dst_id, cosine, rank) for each vector's top-KNN_GRAPH_K capped
    bucket-mates, ties on ascending dst_id. Both orientations of each
    pair are scored: scoring a < b once and mirroring the rows gives
    the same bits, but measured slower at sf0.1 on 4 cores (median
    3.12 s vs 2.48 s; mirroring the id pairs first, 4.03 vs 2.84 s)."""
    w = Window.partitionBy("vec_a").orderBy(F.desc("cosine"), F.asc("vec_b"))
    return (
        _bucket_mates(e, directed=True)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= KNN_GRAPH_K)
        .select(
            F.col("vec_a").alias("src_id"),
            F.col("vec_b").alias("dst_id"),
            "cosine",
            "rank",
        )
    )


ANN_RECALL_ALL_ORACLE = f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({KNN_ORACLE})),
lsh AS (SELECT query_id, neighbor_id FROM ({ANN_LSH_ORACLE})),
ivf AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_ORACLE})),
ivft AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_TRAINED_ORACLE})),
ivfpq AS (SELECT query_id, neighbor_id FROM ({KNN_IVFPQ_ORACLE})),
pqadc AS (SELECT query_id, neighbor_id FROM ({_knn_pq_adc_oracle()})),
approx AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
  UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ivf
  UNION ALL SELECT 'ivf_trained', query_id, neighbor_id FROM ivft
  UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM ivfpq
  UNION ALL SELECT 'pq_adc', query_id, neighbor_id FROM pqadc
),
hits AS (
  SELECT a.method, count(*) AS n_hits
  FROM approx a JOIN truth t
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY a.method
),
tc AS (SELECT count(*) AS n_true FROM truth)
SELECT m.method,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(tc.n_true AS BIGINT) AS n_true,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tc.n_true AS recall
FROM (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'
      UNION ALL SELECT 'ivf_trained' UNION ALL SELECT 'ivfpq'
      UNION ALL SELECT 'pq_adc') m
LEFT JOIN hits h ON h.method = m.method
CROSS JOIN tc
"""


@query("ann_recall_all", oracle=ANN_RECALL_ALL_ORACLE)
def ann_recall_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of EVERY approximate index against the brute-force
    ground truth — the full FAISS-style benchmark sweep ann_recall
    (lsh + seeded-ivf only) grew out of, now possible because the
    trained paths graduated to oracle-exact in r10: the comparison
    covers sign-LSH, seeded-centroid IVF, fixed-point-Lloyd-trained
    IVF, IVFPQ (unit-quantized ADC shortlist + exact refine), and raw
    PQ-ADC (no IVF pruning, L2 over non-normalized codes — its recall
    against the COSINE ground truth is the metric-mismatch diagnostic,
    near zero on norm-varying data, which is precisely what a tuning
    report should make visible). One report row per method;
    micro-averaged exact-integer hit counts; one IEEE division each —
    hash-exact end to end across five complete index pipelines
    replayed inside a single DuckDB query.

    Scale: each leg is its own audited bounded pipeline; this query
    adds only int-pair joins over five top-k lists (<= 5*k*q rows) and
    a 5-row aggregate. The six pipelines are CONSTRUCTED concurrently
    (functions/legs.py): the trained legs run eager driver-side work
    (sample collects, Lloyd rounds, localCheckpoint jobs) while being
    built, and overlapping those independent jobs across cores removes
    the serialized plan-time chain (guide §2.6) without sharing any
    state between legs (the r11 rule)."""
    legs = [
        ("lsh", ann_lsh),
        ("ivf", knn_ivf),
        ("ivf_trained", knn_ivf_trained),
        ("ivfpq", knn_ivfpq),
        ("pq_adc", knn_pq_adc),
    ]
    truth, approx = _graded_legs(spark, sf_dir, legs)
    methods = spark.createDataFrame([(t,) for t, _ in legs], "method string")
    return recall_report(truth, approx, methods)


# --- knn_ivf_append: incremental index maintenance (VERDICT r11 #8) -------
#
# Every trained index above re-derives its structure from the full
# corpus per invocation; a real 100 TB pipeline APPENDS embeddings and
# folds them into an EXISTING index: assign the new vectors to FROZEN
# centroids, merge their inverted-list entries with the stored base
# assignment, and search the union — retraining only when cell
# imbalance says so (max occupancy / mean over a threshold, derivable
# from the merged assignment with one groupBy). The delta split is
# deterministic and oracle-replayable: candidates with
# vec_id % DELTA_MOD == DELTA_RES are "the batch that arrived after
# the index was built", so the frozen quantizer is sized and seeded
# from the BASE candidates only (nlist = ceil(sqrt(n_base)); seeds =
# the first nlist base candidates, taken from a bounded id-slice so
# the seed sort is O(nlist) rows, never a corpus-wide sort).

DELTA_MOD = 10
DELTA_RES = 7


def _frozen_book(spark: SparkSession, sf_dir: str) -> list:
    """The frozen codebook as driver rows (cid, cent_emb, cent_norm),
    memoized per fixture: one count of the base candidates sizes
    nlist, and one collect of the first nlist base ids, sorted and
    limited inside the bounded span-row id slice, seeds it."""

    def build() -> list:
        is_delta = (F.col("vec_id") % DELTA_MOD) == DELTA_RES
        base = _with_norm(load_table(spark, sf_dir, "embeddings")).where(
            (F.col("vec_id") >= ANN_N_QUERIES) & ~is_delta
        )
        nlist = _nlist(base.count())
        span = ((nlist + 8) // 9) * 10 + 10
        # Bounded collect: nlist rows of the <= span-row id slice.
        return (
            base.where(F.col("vec_id") < ANN_N_QUERIES + span)
            .orderBy("vec_id")
            .limit(nlist)
            .selectExpr(*_COS_CB)
            .collect()
        )

    return fixture_memo(spark, sf_dir, "frozen_book", build)


def _append_parts(spark: SparkSession, sf_dir: str):
    """Build the frozen-index pieces knn_ivf_append searches over:
    (vecs, base, delta, cents, merged_assignment, probes), with cents
    the frozen codebook's driver rows (_frozen_book). Split out so
    tests can compare the merged incremental assignment against a
    single-pass batch assignment over the same frozen codebook."""
    vecs = track_cache(_with_norm(load_table(spark, sf_dir, "embeddings")))
    is_delta = (F.col("vec_id") % DELTA_MOD) == DELTA_RES
    base = vecs.where((F.col("vec_id") >= ANN_N_QUERIES) & ~is_delta)
    delta = vecs.where((F.col("vec_id") >= ANN_N_QUERIES) & is_delta)
    cents = _frozen_book(spark, sf_dir)
    # Stored base lists, appended delta lists, query probes — three
    # independent kernel passes against the same frozen codebook.
    assigned_base = _cos_rank(base, cents, 1).select(
        F.col("vec_id").alias("neighbor_id"), "cid"
    )
    assigned_delta = _cos_rank(delta, cents, 1).select(
        F.col("vec_id").alias("neighbor_id"), "cid"
    )
    merged = assigned_base.unionByName(assigned_delta)
    probes = _cos_rank(
        vecs.where(F.col("vec_id") < ANN_N_QUERIES), cents, IVF_NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cid")
    return vecs, base, delta, cents, merged, probes


KNN_IVF_APPEND_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
base AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id >= {ANN_N_QUERIES} AND vec_id % {DELTA_MOD} <> {DELTA_RES}
),
nl AS (
  SELECT greatest(1, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
      AS nlist
  FROM base
),
sp AS (SELECT nlist, ((nlist + 8) // 9) * 10 + 10 AS w FROM nl),
cents AS (
  SELECT vec_id AS cid FROM (
    SELECT b.vec_id, row_number() OVER (ORDER BY b.vec_id) AS rk, s.nlist
    FROM base b, sp s WHERE b.vec_id < {ANN_N_QUERIES} + s.w)
  WHERE rk <= nlist
),
cdots AS (
  SELECT v.vec_id, c.cid,
         CAST(sum(CAST(floor(v.x * ce.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v
  JOIN cents c ON true
  JOIN ex ce ON ce.vec_id = c.cid AND ce.i = v.i
  GROUP BY v.vec_id, c.cid
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN ex q ON q.vec_id = cd.query_id
  JOIN ex c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank,
       (neighbor_id % {DELTA_MOD} = {DELTA_RES}) AS from_delta
FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.norm * nc.norm) AS cosine,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot / (nq.norm * nc.norm) DESC,
                                     d.neighbor_id ASC) AS rank
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
WHERE rank <= {ANN_K}
"""


@query("knn_ivf_append", oracle=KNN_IVF_APPEND_ORACLE)
def knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance + merged search (FAISS
    IndexIVF.add on a trained index): the coarse quantizer is FROZEN
    on the base corpus (candidates outside the delta residue class),
    the delta batch is assigned to those frozen centroids in its OWN
    pass — the base corpus is never re-touched by the append — and
    search probes the UNION of the stored base inverted lists and the
    delta's new entries. Output = knn_ivf's shape plus ``from_delta``
    so a result row is attributable to the appended batch.

    Cell-imbalance retrain trigger: one groupBy(cid).count() over the
    merged assignment vs mean occupancy — not emitted here, the merged
    `assigned` union is exactly its input.

    Scale: the delta assignment is O(|delta| x nlist) in the map-side
    _cos_rank kernel against the frozen codebook's driver rows — the
    mergeable-partial pattern (sources/incremental.py): appends never
    reshuffle the base, whose assignment is the stored partitionBy(cid)
    layout (write_ivf_store). The codebook (_frozen_book) is one count
    and one sorted, limited collect of a BOUNDED O(nlist) id-slice,
    once per fixture. tests/test_ann.py pins
    merged == single-pass batch assignment over base ∪ delta against
    the same frozen codebook (an append loses nothing vs a rebuild),
    a recall floor vs brute force, and that delta vectors are
    retrievable."""
    vecs, _base, _delta, cents, merged, probes = _append_parts(
        spark, sf_dir
    )
    scored = exact_cosine(_queries(vecs), vecs, _probed(probes, merged))
    return top_k(scored, "cosine", ANN_K).withColumn(
        "from_delta", (F.col("neighbor_id") % DELTA_MOD) == DELTA_RES
    )


# --- ivf_imbalance: the retrain trigger knn_ivf_append defers to ----------

# A cell is "hot" past this occupancy-to-mean ratio; the index wants a
# retrain when any cell is hot (FAISS's imbalance_factor heuristic).
# Integer threshold so the flag is exact: hot <=> occupancy * DEN >
# mean * NUM <=> occupancy * n_cells * DEN > n_total * NUM.
IMBALANCE_NUM, IMBALANCE_DEN = 3, 1  # hot = >3x mean occupancy

IVF_IMBALANCE_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
base AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id >= {ANN_N_QUERIES} AND vec_id % {DELTA_MOD} <> {DELTA_RES}
),
nl AS (
  SELECT greatest(1, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
      AS nlist
  FROM base
),
sp AS (SELECT nlist, ((nlist + 8) // 9) * 10 + 10 AS w FROM nl),
cents AS (
  SELECT vec_id AS cid FROM (
    SELECT b.vec_id, row_number() OVER (ORDER BY b.vec_id) AS rk, s.nlist
    FROM base b, sp s WHERE b.vec_id < {ANN_N_QUERIES} + s.w)
  WHERE rk <= nlist
),
cdots AS (
  SELECT v.vec_id, c.cid,
         CAST(sum(CAST(floor(v.x * ce.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v
  JOIN cents c ON true
  JOIN ex ce ON ce.vec_id = c.cid AND ce.i = v.i
  GROUP BY v.vec_id, c.cid
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id, cid,
         (vec_id % {DELTA_MOD} = {DELTA_RES}) AS is_delta
  FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
),
occ AS (
  SELECT c.cid,
         CAST(count(a.vec_id) AS BIGINT) AS occupancy,
         CAST(coalesce(sum(CASE WHEN a.is_delta THEN 1 END), 0) AS BIGINT)
             AS n_delta
  FROM cents c LEFT JOIN assigned a ON a.cid = c.cid
  GROUP BY c.cid
),
tot AS (
  SELECT CAST(sum(occupancy) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM occ
)
SELECT o.cid, o.occupancy, o.n_delta,
       (o.occupancy * t.n_cells * {IMBALANCE_DEN}
        > t.n_total * {IMBALANCE_NUM}) AS hot
FROM occ o CROSS JOIN tot t
"""


@query("ivf_imbalance", oracle=IVF_IMBALANCE_ORACLE)
def ivf_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain trigger knn_ivf_append's docstring promises: per-cell
    occupancy of the merged (base ∪ delta) assignment over the FROZEN
    quantizer, how much of each cell is appended data, and an exact
    integer `hot` flag (occupancy > {IMBALANCE_NUM}x mean — FAISS's
    imbalance_factor heuristic, cross-multiplied so no division enters
    the boolean). A pipeline retrains when any cell is hot: appends
    skew cells precisely when the delta's distribution drifts from the
    base the codebook was trained on. Empty cells are kept (LEFT join
    from the codebook) — a dead cell is the other drift signal.

    Scale: _append_parts' audited pieces + ONE groupBy(cid) over the
    merged assignment (map-side combinable int pairs) + a broadcast
    2-value total. The report is O(nlist) rows."""
    _vecs, _base, _delta, cents, merged, _probes = _append_parts(
        spark, sf_dir
    )
    is_delta = (F.col("neighbor_id") % DELTA_MOD) == DELTA_RES
    occ = (
        spark.createDataFrame([(c.cid,) for c in cents], "cid bigint")
        .join(
            merged.select(
                "cid",
                F.col("neighbor_id"),
                is_delta.cast("int").alias("d"),
            ),
            "cid",
            "left",
        )
        .groupBy("cid")
        .agg(
            F.count("neighbor_id").alias("occupancy"),
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_delta"),
        )
    )
    occ = track_cache(occ)
    tot = occ.agg(
        F.sum("occupancy").alias("n_total"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "cid",
        "occupancy",
        "n_delta",
        (
            F.col("occupancy") * F.col("n_cells") * F.lit(IMBALANCE_DEN)
            > F.col("n_total") * F.lit(IMBALANCE_NUM)
        ).alias("hot"),
    )


# --- embedding_drift: the distribution half of the retrain decision -------

# Per-dimension mean shift past this threshold flags drift; exact via
# cross-multiply on the fixed-point sums (|Δmean| > NUM/DEN with
# mean = sx_e6 / (n * 1e6)):
#   |sxd * nb - sxb * nd| * DRIFT_DEN > nb * nd * 1e6 * DRIFT_NUM
DRIFT_NUM, DRIFT_DEN = 1, 20  # drift = |Δmean| > 0.05

EMBEDDING_DRIFT_ORACLE = f"""
WITH el AS (
  SELECT vec_id,
         (vec_id % {DELTA_MOD} = {DELTA_RES}) AS is_delta,
         unnest([{{'i': i, 'x': embedding[i]}}
                 for i in range(1, len(embedding)+1)]) AS p
  FROM embeddings WHERE vec_id >= {ANN_N_QUERIES}
),
cells AS (
  SELECT is_delta, p.i AS i,
         CAST(floor(CAST(p.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
  FROM el
),
sums AS (
  SELECT i,
         CAST(sum(CASE WHEN NOT is_delta THEN q END) AS BIGINT) AS sxb,
         CAST(sum(CASE WHEN is_delta THEN q END) AS BIGINT) AS sxd,
         CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS nd
  FROM cells GROUP BY i
)
SELECT i AS dim, nb AS n_base, nd AS n_delta,
       sxb AS base_sum_e6, sxd AS delta_sum_e6,
       CAST(sxb AS DOUBLE) / (nb * 1000000.0) AS base_mean,
       CAST(sxd AS DOUBLE) / (nd * 1000000.0) AS delta_mean,
       (abs(CAST(sxd AS HUGEINT) * nb - CAST(sxb AS HUGEINT) * nd)
            * {DRIFT_DEN}
        > CAST(nb AS HUGEINT) * nd * 1000000 * {DRIFT_NUM}) AS drift
FROM sums
"""

# The drift boolean's cross-multiplies exceed int64 once
# n_base * n_delta * 1e6 > 2^63 (~9.2e12 — plausible at the 100 TB
# target); non-ANSI Spark would wrap silently while DuckDB stays exact
# (the t_closeness T_SUM_GUARD class, ADVICE r12). Both engines
# therefore compute the comparison in 128-bit: DECIMAL(38,0) in Spark
# (exact to 1e38; worst case here is ~1e12 * 1e12 * 1e6 = 1e30),
# HUGEINT in DuckDB.
_DEC38 = "decimal(38,0)"


def _drift_flag_col() -> "F.Column":
    return (
        F.abs(
            F.col("delta_sum_e6").cast(_DEC38) * F.col("n_base")
            - F.col("base_sum_e6").cast(_DEC38) * F.col("n_delta")
        )
        * F.lit(DRIFT_DEN)
        > F.col("n_base").cast(_DEC38)
        * F.col("n_delta")
        * F.lit(1000000)
        * F.lit(DRIFT_NUM)
    ).alias("drift")


@query("embedding_drift", oracle=EMBEDDING_DRIFT_ORACLE)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution half of the append-then-retrain decision
    (ivf_imbalance is the occupancy half): per-dimension mean of the
    APPENDED delta batch vs the base corpus the codebook was trained
    on, with an exact integer drift flag (|Δmean| > 0.05 via
    cross-multiplied fixed-point sums — no float enters the boolean).
    A drifting dimension means new data lives where no centroid was
    trained; paired with hot cells it distinguishes "skewed arrivals"
    from "the world changed".

    Scale: ONE map-side pass — each row contributes its d quantized
    components tagged by split, partial-aggregated onto d cells before
    the only shuffle (the embedding_covariance means idiom with a
    split dimension); the report is d rows. At 100 TB only
    O(d x partitions) bigints ever move."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") >= ANN_N_QUERIES
    )
    is_delta = (F.col("vec_id") % DELTA_MOD) == DELTA_RES
    cells = e.select(
        is_delta.alias("is_delta"),
        F.explode(
            F.expr(
                "transform(sequence(0, size(embedding)-1),"
                " i -> struct(i + 1 AS i,"
                "      CAST(floor(CAST(embedding[i] AS DOUBLE)"
                "           * 1000000.0) AS BIGINT) AS q))"
            )
        ).alias("m"),
    )
    sums = cells.groupBy(F.col("m.i").alias("dim")).agg(
        F.sum(F.when(~F.col("is_delta"), F.col("m.q"))).alias("base_sum_e6"),
        F.sum(F.when(F.col("is_delta"), F.col("m.q"))).alias("delta_sum_e6"),
        F.sum(F.when(~F.col("is_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("is_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_delta"),
    )
    return sums.select(
        "dim",
        "n_base",
        "n_delta",
        "base_sum_e6",
        "delta_sum_e6",
        (
            F.col("base_sum_e6").cast("double")
            / (F.col("n_base") * F.lit(1000000.0))
        ).alias("base_mean"),
        (
            F.col("delta_sum_e6").cast("double")
            / (F.col("n_delta") * F.lit(1000000.0))
        ).alias("delta_mean"),
        _drift_flag_col(),
    )


def write_ivf_base_store(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The "index built yesterday": ONLY the base corpus (delta residue
    class excluded), assigned to the frozen codebook and built as the
    cell-partitioned store that append_ivf_store later folds arriving
    deltas into. write_ivf_store remains the full-corpus/fresh-retrain
    form."""
    e = load_table(spark, sf_dir, "embeddings")
    _vecs, base, _delta, cents, _merged, _probes = _append_parts(
        spark, sf_dir
    )
    assigned = _cos_rank(base, cents, 1).select("vec_id", "cid")
    rows = e.join(assigned, "vec_id").select("vec_id", "embedding", "cid")
    _build_ivf_store(spark, path, rows)


def append_ivf_store(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Physically fold the delta batch into an EXISTING IVF store (the
    storage half of knn_ivf_append): assign the delta residue class
    against the FROZEN codebook and add its rows through the store's
    idempotent fold — only the cells the delta lands in gain files,
    the base corpus's files are never rewritten, and a retried fold
    (driver restart, an orchestrator re-running the step) adds nothing.
    After the fold, read_ivf_store serves base ∪ delta from the same
    cell layout, and ivf_imbalance over the merged assignment decides
    when the codebook has drifted enough to rebuild (write_ivf_store
    from scratch)."""
    e = load_table(spark, sf_dir, "embeddings")
    _vecs, _base, delta, cents, _merged, _probes = _append_parts(
        spark, sf_dir
    )
    _fold_ivf_store(spark, path, _cos_rank(delta, cents, 1), e)


# --- ivf_store_prune: the physical store's pruning payoff, oracle-checked --

def _ivf_store_ready(
    spark: SparkSession, sf_dir: str, tag: str = "ivf_store"
) -> str:
    """The physical store (base build + delta fold), built once per
    fixture and tag (tables.fixture_store). The default tag is the
    store ivf_store_prune / stream_ivf_maintenance / ivf_store_delete
    share, whose row set must stay the full assignment (delete only
    adds tombstones); vacuum REMOVES rows, so it works on its own tag
    — sharing would corrupt the others' oracle denominators."""

    def write(path: str) -> None:
        write_ivf_base_store(spark, sf_dir, path)
        append_ivf_store(spark, sf_dir, path)

    return fixture_store(spark, sf_dir, tag, write)


IVF_STORE_PRUNE_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
base AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id >= {ANN_N_QUERIES} AND vec_id % {DELTA_MOD} <> {DELTA_RES}
),
nl AS (
  SELECT greatest(1, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
      AS nlist
  FROM base
),
sp AS (SELECT nlist, ((nlist + 8) // 9) * 10 + 10 AS w FROM nl),
cents AS (
  SELECT vec_id AS cid FROM (
    SELECT b.vec_id, row_number() OVER (ORDER BY b.vec_id) AS rk, s.nlist
    FROM base b, sp s WHERE b.vec_id < {ANN_N_QUERIES} + s.w)
  WHERE rk <= nlist
),
cdots AS (
  SELECT v.vec_id, c.cid,
         CAST(sum(CAST(floor(v.x * ce.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v
  JOIN cents c ON true
  JOIN ex ce ON ce.vec_id = c.cid AND ce.i = v.i
  GROUP BY v.vec_id, c.cid
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id, cid,
         (vec_id % {DELTA_MOD} = {DELTA_RES}) AS is_delta
  FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
occ AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(coalesce(sum(CASE WHEN is_delta THEN 1 END), 0) AS BIGINT)
             AS n_delta
  FROM assigned GROUP BY cid
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_total,
         (SELECT CAST(count(*) AS BIGINT) FROM cents) AS cells_total
  FROM assigned
)
SELECT p.query_id,
       CAST(count(*) AS BIGINT) AS cells_probed,
       CAST(sum(CASE WHEN o.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS cells_nonempty,
       t.cells_total,
       CAST(coalesce(sum(o.n_rows), 0) AS BIGINT) AS rows_scanned,
       CAST(coalesce(sum(o.n_delta), 0) AS BIGINT) AS delta_rows_scanned,
       t.rows_total,
       CAST(coalesce(sum(o.n_rows), 0) AS DOUBLE) / t.rows_total
           AS scan_fraction
FROM probes p
LEFT JOIN occ o ON o.cid = p.cid
CROSS JOIN tot t
GROUP BY p.query_id, t.cells_total, t.rows_total
"""


@query("ivf_store_prune", oracle=IVF_STORE_PRUNE_ORACLE)
def ivf_store_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 store trio (write_ivf_base_store / append_ivf_store
    / read_ivf_store) as a first-class oracle-checked query (VERDICT
    r12 #1): physically build the cell-partitioned store, fold the delta
    batch in, then MEASURE what each query's probe pass reads from the
    on-disk layout — cells touched vs cells total, rows scanned vs
    rows total, and how many of the scanned rows arrived via the
    append. The zorder_layout idiom: the pruning ratio IS the query
    result. Because every reported number is recomputed relationally by
    the DuckDB oracle from the embeddings table alone, a hash match
    proves the PHYSICAL store's content equals the frozen-codebook
    assignment — fold idempotence and append visibility become
    oracle-checked instead of pytest-only.

    Scale: the probe scan reads ONLY the probed cells' files, which
    read_ivf_store names from the store manifest (pytest pins the
    scan's inputFiles), with the probed-cid list bounded by
    n_queries x nprobe (control metadata). The denominator pass reads
    the vec_id column only (column-pruned footprint; at deployment row
    counts come from file metadata). Report is O(n_queries) rows."""
    path = _ivf_store_ready(spark, sf_dir)
    _v, _b, _d, cents, _m, probes = _append_parts(spark, sf_dir)
    probes = track_cache(probes)
    # Bounded control flow: <= ANN_N_QUERIES * IVF_NPROBE cell ids.
    probed = sorted(
        r[0] for r in probes.select("cid").distinct().collect()
    )
    is_delta = (F.col("vec_id") % DELTA_MOD) == DELTA_RES
    occ = (
        read_ivf_store(spark, path, probed, "all")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(is_delta.cast("int")).cast("long").alias("n_delta"),
        )
    )
    tot = read_ivf_store(spark, path, rows="all").groupBy().agg(
        F.count(F.lit(1)).alias("rows_total")
    )
    cells = spark.createDataFrame([(len(cents),)], "cells_total bigint")
    per_q = (
        probes.join(occ, "cid", "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("cells_probed"),
            F.sum(F.when(F.col("n_rows").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("cells_nonempty"),
            F.coalesce(F.sum("n_rows"), F.lit(0))
            .cast("long")
            .alias("rows_scanned"),
            F.coalesce(F.sum("n_delta"), F.lit(0))
            .cast("long")
            .alias("delta_rows_scanned"),
        )
    )
    return (
        per_q.crossJoin(F.broadcast(cells))
        .crossJoin(F.broadcast(tot))
        .select(
            "query_id",
            "cells_probed",
            "cells_nonempty",
            "cells_total",
            "rows_scanned",
            "delta_rows_scanned",
            "rows_total",
            (
                F.col("rows_scanned").cast("double") / F.col("rows_total")
            ).alias("scan_fraction"),
        )
    )


# --- decontaminate_semantic: embedding-space eval decontamination ---------
#
# The n-gram `decontaminate` (pipeline.py) has a PARAPHRASE blind spot:
# a training doc that restates an eval doc without sharing any verbatim
# 8-gram sails through. The Gopher / Llama eval-decontamination step
# closes it in embedding space: flag train-split documents whose
# embedding is >= tau-similar to any held-out eval document. This
# composes the SemDeDup cell machinery (dedup_semantic's
# corpus-adaptive cell bucketing + fixed-point within-cell cosine) with
# dataset_split's keyed-hash membership, so all three queries agree on
# what "train" and "test" mean (VERDICT r12 #7).
#
# Shared approximation with SemDeDup (documented, not hidden): a
# train/eval pair assigned to DIFFERENT cells is never compared — the
# same recall/cost trade the cell bucketing makes for dedup, acceptable
# here because a paraphrase pair's embeddings are by construction near
# each other and so almost always co-bucket.
DECON_SEM_TAU = SEM_TAU  # same "semantically the same text" threshold

DECONTAMINATE_SEMANTIC_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
cdots AS (
  SELECT v.vec_id, c.vec_id AS cid,
         CAST(sum(CAST(floor(v.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v JOIN ex c ON c.i = v.i
  WHERE c.vec_id >= {ANN_N_QUERIES}
    AND c.vec_id < {ANN_N_QUERIES} + {_NLIST_SQL}
  GROUP BY v.vec_id, c.vec_id
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores)
  WHERE rk = 1
),
tags AS (
  SELECT doc_id,
         substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
  FROM documents
),
train_side AS (
  SELECT a.vec_id, a.cid FROM assigned a
  JOIN tags t ON t.doc_id = a.vec_id
  WHERE t.b < '{SPLIT_BOUNDS[0]}'
),
eval_side AS (
  SELECT a.vec_id, a.cid FROM assigned a
  JOIN tags t ON t.doc_id = a.vec_id
  WHERE t.b >= '{SPLIT_BOUNDS[1]}'
),
pairs AS (
  SELECT tr.vec_id AS train_doc, ev.vec_id AS eval_doc
  FROM train_side tr JOIN eval_side ev ON ev.cid = tr.cid
),
pdots AS (
  SELECT p.train_doc, p.eval_doc,
         CAST(sum(CAST(floor(xa.x * xb.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM pairs p
  JOIN ex xa ON xa.vec_id = p.train_doc
  JOIN ex xb ON xb.vec_id = p.eval_doc AND xb.i = xa.i
  GROUP BY p.train_doc, p.eval_doc
),
pcos AS (
  SELECT d.train_doc, d.eval_doc,
         d.dot / (na.norm * nb.norm) AS cosine
  FROM pdots d
  JOIN norms na ON na.vec_id = d.train_doc
  JOIN norms nb ON nb.vec_id = d.eval_doc
),
hits AS (SELECT * FROM pcos WHERE cosine >= {DECON_SEM_TAU})
SELECT train_doc AS doc_id,
       CAST(n_eval_hits AS BIGINT) AS n_eval_hits,
       CAST(eval_doc AS BIGINT) AS top_eval_doc,
       top_cosine
FROM (
  SELECT train_doc, eval_doc, cosine,
         row_number() OVER (PARTITION BY train_doc
                            ORDER BY cosine DESC, eval_doc ASC) AS rk,
         count(*) OVER (PARTITION BY train_doc) AS n_eval_hits,
         max(cosine) OVER (PARTITION BY train_doc) AS top_cosine
  FROM hits)
WHERE rk = 1
"""


@query("decontaminate_semantic", oracle=DECONTAMINATE_SEMANTIC_ORACLE)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval decontamination (Gopher / Llama hygiene
    pass): flag train-split documents whose embedding is >=
    {DECON_SEM_TAU}-cosine-similar to a held-out test-split document —
    the paraphrased-contamination class the n-gram `decontaminate`
    cannot see. Composes dataset_split's keyed-hash membership (both
    engines agree on the split by construction) with dedup_semantic's
    cell bucketing: every vector is assigned to its nearest of
    ceil(sqrt(n)) seeded cells by fixed-point cosine, and only
    CO-BUCKETED (train, eval) pairs are scored — the SemDeDup
    recall/cost trade, documented in the module comment. Emits one row
    per contaminated train doc: hit count, the closest eval doc
    (ties: lowest id), and the top cosine.

    Scale: assignment is the audited n x sqrt(n) _cos_rank kernel;
    the pair stage is (train-cell occupancy) x (eval-cell occupancy)
    per cell with the eval split at ~5 % of the corpus — O(n^1.5)
    worst case, the documented adaptive-cell family bound; hit rows
    shuffle as int pairs. No corpus-wide pair join exists."""
    _SB = SPLIT_BOUNDS
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    vecs = track_cache(
        e.select(
            "vec_id", "embedding", v_norm(F.col("embedding")).alias("norm")
        )
    )
    # The n x sqrt(n) assignment pass is shared with dedup_semantic /
    # corpus_curate_semantic via the sem_assignment memo.
    assigned = sem_assignment(spark, sf_dir).select("vec_id", "cid")
    b = F.substring(
        F.md5(F.format_string("split|%d", F.col("doc_id"))), 1, 2
    )
    tags = d.select("doc_id", b.alias("b"))
    tagged = track_cache(
        assigned.join(tags, assigned.vec_id == tags.doc_id).select(
            "vec_id", "cid", "b"
        )
    )
    train_side = tagged.where(F.col("b") < _SB[0]).select(
        F.col("vec_id").alias("train_doc"), "cid"
    )
    eval_side = tagged.where(F.col("b") >= _SB[1]).select(
        F.col("vec_id").alias("eval_doc"), "cid"
    )
    hits = pair_cosine(
        train_side.join(eval_side, "cid"), vecs, "train_doc", "eval_doc"
    ).where(F.col("cosine") >= DECON_SEM_TAU)
    return hits.groupBy(F.col("train_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.expr("max_by(eval_doc, struct(cosine, -eval_doc))")
        .cast("bigint")
        .alias("top_eval_doc"),
        F.max("cosine").alias("top_cosine"),
    )


# --- ivf_nprobe_sweep: the recall-vs-nprobe tuning curve ------------------

IVF_NPROBE_SWEEP_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM ex GROUP BY vec_id
),
cdots AS (
  SELECT v.vec_id, c.vec_id AS cid,
         CAST(sum(CAST(floor(v.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM ex v JOIN ex c ON c.i = v.i
  WHERE c.vec_id >= {ANN_N_QUERIES}
    AND c.vec_id < {ANN_N_QUERIES} + {_NLIST_SQL}
  GROUP BY v.vec_id, c.vec_id
),
cscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cid
),
assigned AS (
  SELECT vec_id AS neighbor_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
),
probes AS (
  SELECT vec_id AS query_id, cid, rk AS prk FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM cscores WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.neighbor_id, p.prk
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id, cd.prk,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN ex q ON q.vec_id = cd.query_id
  JOIN ex c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id, cd.prk
),
pcos AS (
  SELECT d.query_id, d.neighbor_id, d.prk,
         d.dot / (nq.norm * nc.norm) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
),
levels AS (SELECT unnest(generate_series(1, {IVF_NPROBE})) AS p),
topk AS (
  SELECT p, query_id, neighbor_id FROM (
    SELECT l.p, c.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY l.p, c.query_id
                              ORDER BY c.cosine DESC,
                                       c.neighbor_id ASC) AS rank
    FROM pcos c JOIN levels l ON c.prk <= l.p)
  WHERE rank <= {ANN_K}
),
truth AS (SELECT query_id, neighbor_id FROM ({KNN_ORACLE})),
hits AS (
  SELECT k.p, count(*) AS n_hits
  FROM topk k JOIN truth t
    ON t.query_id = k.query_id AND t.neighbor_id = k.neighbor_id
  GROUP BY k.p
),
tc AS (SELECT count(*) AS n_true FROM truth)
SELECT CAST(l.p AS INTEGER) AS nprobe,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(tc.n_true AS BIGINT) AS n_true,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tc.n_true AS recall
FROM levels l
LEFT JOIN hits h ON h.p = l.p
CROSS JOIN tc
"""


@query("ivf_nprobe_sweep", oracle=IVF_NPROBE_SWEEP_ORACLE)
def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{ANN_K} as a function of nprobe — the FAISS tuning curve
    every IVF deployment plots before picking its probe width (the
    knob trades scan fraction against recall; ivf_store_prune measures
    the other side of the same trade, scan cost per probe). One row
    per nprobe in 1..{IVF_NPROBE}: hit count vs the brute-force truth,
    micro-averaged recall.

    Shape: the probe ranking is computed ONCE with its rank kept
    (prk); a candidate admitted at probe-rank r is in the nprobe=p
    candidate set for every p >= r, so the sweep is a bounded
    level-expansion join (candidates x {IVF_NPROBE} levels — never a
    re-run of the pipeline per level) followed by the per-(p, query)
    top-k window over candidate rows only. Truth is knn_bruteforce's
    audited pipeline. At 100 TB the expansion rides on
    O(q x nprobe x occupancy) candidate rows — the same envelope as
    one knn_ivf invocation, times the (constant) level count."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = track_cache(
        e.select(
            "vec_id", "embedding", v_norm(F.col("embedding")).alias("norm")
        )
    )
    cents = _seeded(spark, sf_dir)
    # Lazy: the kernel is a map-side pass, so its two readers re-run it
    # instead of caching it (sf0.1 A/B, 4 pairs: 1.84 vs 1.88 s eager).
    ranked = _cos_rank(vecs, cents, IVF_NPROBE)
    assigned = ranked.where(
        (F.col("rk") == 1) & (F.col("vec_id") >= ANN_N_QUERIES)
    ).select(F.col("vec_id").alias("neighbor_id"), "cid")
    probes = ranked.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "cid", F.col("rk").alias("prk")
    )
    cand = F.broadcast(probes).join(assigned, "cid").select(
        "query_id", "neighbor_id", "prk"
    )
    pcos = exact_cosine(_queries(vecs), vecs, cand, keep=("prk",))
    levels = spark.range(1, IVF_NPROBE + 1).select(
        F.col("id").cast("int").alias("p")
    )
    topk = top_k(
        pcos.join(F.broadcast(levels), F.col("prk") <= F.col("p")),
        "cosine",
        ANN_K,
        by=("p", "query_id"),
    ).select("p", "query_id", "neighbor_id")
    truth = track_cache(
        knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    )
    return recall_report(truth, topk, levels).withColumnRenamed(
        "p", "nprobe"
    )


# --- knn_ivfpq_residual: FAISS-default residual encoding (VERDICT r13 #3) -
#
# knn_ivfpq PQ-encodes RAW unit vectors; FAISS IndexIVFPQ's default
# (by_residual=true) encodes each vector's RESIDUAL against its
# assigned coarse centroid — the residual distribution is tighter
# around zero than the raw one, so the same PQ_M x PQ_K code budget
# spends its codewords on the part of the vector the coarse quantizer
# could not explain (Jegou et al. 2011 §IV-A, the standard
# recall-per-byte lever). All machinery already exists: residuals are
# exact bigint differences of the quantized unit vectors
# (q_res = floor(x/|x|*1e6) - floor(c/|c|*1e6), componentwise), the
# sample-capped fixed-point Lloyd trains on them unchanged, and ADC
# becomes PER-PROBED-CELL query tables (the query's residual differs
# per cell) — nprobe x PQ_M x PQ_K integer entries per query, still a
# broadcast. pq_recall_compare measures the uplift vs the raw form at
# the identical code budget. Determinism contract per the reference's
# checksum pipeline (storage/StorageNode.java:171-208).

def ivfpq_residual_topk(
    e: DataFrame, n: int | None = None, cells: list | None = None
) -> DataFrame:
    """Core of knn_ivfpq_residual over any (vec_id, embedding) frame.
    Same quantizer, trainer, _adc search and exact-refine tail as
    ivfpq_topk; only the codec's input (residuals, not raw unit
    vectors) and the ADC tables (per probed cell) differ."""
    usq = track_cache(_pq_subspaces(e, unit=True))
    _, probes, assigned, nlist = _coarse_cells(e, n=n, cells=cells)
    # Coarse-centroid sub-vectors: bounded nlist x PQ_M rows, broadcast
    # everywhere below (the codebook-closure shape). Derived from a
    # FILTERED scan, not the shared `usq` cache — the _query_subspaces
    # rationale: this subtree runs as a concurrent broadcast job at
    # action start; the vec_id range pushes down to parquet.
    cent_sq = _pq_subspaces(_seed_cells(e, nlist), unit=True).select(
        F.col("vec_id").alias("cid"),
        "s",
        F.col("sub_q").alias("cent_sub_q"),
    )
    res = F.zip_with("sub_q", "cent_sub_q", lambda a, b: a - b)
    # Residual frame for the corpus: one join against the assignment +
    # one broadcast join against the centroid slices, exact bigint
    # componentwise subtraction — raw floats never enter PQ.
    rsq = (
        usq.where(F.col("vec_id") >= ANN_N_QUERIES)
        .join(
            assigned.select(
                F.col("neighbor_id").alias("vec_id"), "cid"
            ),
            "vec_id",
        )
        .join(F.broadcast(cent_sq), ["cid", "s"])
        .select("vec_id", "s", res.alias("sub_q"))
    )
    encoded, codebook = _pq_train(e, rsq)
    # Per-probed-cell query ADC tables: residual of the QUERY against
    # each probed cell's centroid — n_queries x nprobe x PQ_M x PQ_K
    # integer rows, broadcast.
    qres = (
        F.broadcast(probes)
        .join(_query_subspaces(e, unit=True), "query_id")
        .join(F.broadcast(cent_sq), ["cid", "s"])
        .select("query_id", "cid", "s", res.alias("sub_q"))
    )
    candc = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .select("query_id", "cid", "neighbor_id")
    )
    adc = _adc(qres, codebook, encoded, candc)
    return _exact_refine(e, top_k(adc, "adc_q", IVFPQ_SHORTLIST, asc=True))


KNN_IVFPQ_RESIDUAL_ORACLE = (
    "WITH "
    + f"""
{_EXD_NORMS},
uex AS (
  SELECT e.vec_id, (e.i - 1) // {PQ_SUB} AS s, (e.i - 1) % {PQ_SUB} + 1 AS j,
         CAST(floor(e.x / n.norm * {_LQ}) AS BIGINT) AS q
  FROM exd e JOIN norms n ON n.vec_id = e.vec_id
),"""
    + _ivf_cand_ctes()
    + """,
rex AS (
  SELECT u.vec_id, u.s, u.j, u.q - ce.q AS q
  FROM uex u
  JOIN iassigned a ON a.vec_id = u.vec_id
  JOIN uex ce ON ce.vec_id = a.cid AND ce.s = u.s AND ce.j = u.j
),"""
    + _pq_sampled_ctes("rex")
    + f""",
dt AS (
  SELECT p.query_id, p.cid AS pcid, c.s, c.cid,
         sum((u.q - ce.q - c.q) * (u.q - ce.q - c.q)) AS d
  FROM probes p
  JOIN uex u ON u.vec_id = p.query_id
  JOIN uex ce ON ce.vec_id = p.cid AND ce.s = u.s AND ce.j = u.j
  JOIN scb c ON c.s = u.s AND c.j = u.j
  GROUP BY p.query_id, p.cid, c.s, c.cid
),
codes AS (
  SELECT vec_id AS neighbor_id, s, cid FROM enc
),
candc AS (
  SELECT p.query_id, p.cid AS pcid, a.vec_id AS neighbor_id
  FROM probes p JOIN iassigned a ON a.cid = p.cid
),
adc AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(t.d) AS BIGINT) AS adc_q
  FROM candc cd
  JOIN codes k ON k.neighbor_id = cd.neighbor_id
  JOIN dt t ON t.query_id = cd.query_id AND t.pcid = cd.pcid
           AND t.s = k.s AND t.cid = k.cid
  GROUP BY cd.query_id, cd.neighbor_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_q ASC, neighbor_id ASC) AS rk
    FROM adc)
  WHERE rk <= {IVFPQ_SHORTLIST}
),
{_REFINE_TAIL}"""
)


@query("knn_ivfpq_residual", oracle=KNN_IVFPQ_RESIDUAL_ORACLE)
def knn_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with RESIDUAL encoding — FAISS IndexIVFPQ's default
    (by_residual), where knn_ivfpq is the by_residual=false form: PQ
    codebooks train on and codes store x - centroid(cell(x)) instead
    of x, and each query builds one ADC table PER PROBED CELL from its
    own residual against that cell's centroid. Same candidate
    generation, same PQ_M x PQ_K code budget, same
    IVFPQ_SHORTLIST exact refine; pq_recall_compare reports the recall
    delta the residual form buys. Everything stays fixed-point:
    residuals are exact bigint differences of quantized unit vectors,
    so training, encoding, ADC, and refine replay bit-identically in
    DuckDB.

    Scale: identical shapes to knn_ivfpq plus one broadcast join
    against the O(nlist x PQ_M) centroid slices; the per-cell query
    tables are n_queries x nprobe x PQ_M x PQ_K integer rows
    (broadcast — a few MB at production nprobe/K). The corpus-scale
    passes are unchanged: one assignment, one encode, ADC over probed
    cells only."""
    return _on_fixture(ivfpq_residual_topk, spark, sf_dir)


# --- knn_ivf_sq: IVF + 8-bit scalar quantization (VERDICT r14 #4) --------
#
# FAISS IndexIVFScalarQuantizer (QT_8bit) beside the PQ family: the
# same probed-cell candidate generation, but each stored vector is
# compressed to one int8 code PER DIMENSION via trained per-dim linear
# quantization, and ADC is a pure-integer dot against the decoded
# codes. Where PQ's codebook is learned (Lloyd), SQ's "codebook" is
# just per-dim (vmin, vmax) bounds off the train sample — which makes
# the whole pipeline NATURALLY exact in integer arithmetic: train is
# min/max over quantized unit components, encode is one clamped
# integer division, decode is affine in ints, ADC is an int64 dot.
# Nothing needs a float epsilon anywhere, so DuckDB replays training,
# encoding, ADC shortlisting, and the exact refine bit for bit.
#
# FAISS parity notes: codes follow Codec8bit (encode = floor(255 *
# clamp01(x_scaled)), decode = (code + 0.5) / 255), the train sample
# is the engine-standard md5 bottom-k cap (the FAISS train()
# convention the pqtrain _md5_sample encodes), and the decode stays scaled by
# 2*255 so the ADC never divides: with q the quantized unit component
# (|q| <= ~1e6) and span = vmax - vmin, the scaled decode is
# xhat2 = 510*vmin + (2*code + 1)*span and rank order under
# sum(q * xhat2) equals rank order under the float decode.

SQ_CODE_MAX = 255  # 8-bit codes: one byte per dimension


def _sq_codec(e: DataFrame):
    """Codec: SQ8 over the unit quantizer, shared by sq_topk,
    sq_reconstruct_error and the tests. Returns (uq, xhat2): the
    _unit_q frame of e (uncached: only a caller that reads it twice
    caches it) and the scaled int decode of its 8-bit codes, a column
    over uq.

    Train: per-dimension (vmin, vmax) over the md5 bottom-k sample —
    the ScalarQuantizer RS_minmax pass. The explode is SAMPLE-bounded
    (<= PQ_TRAIN_CAP x EMB_DIM rows) and the collect is EMB_DIM rows of
    two ints: control flow, never data; the bounds ride as literal
    arrays. Encode/decode per dim: code = (clamp(q) - vmin) * 255 //
    span (operands non-negative, so truncation == floor in Spark and
    DuckDB alike; Spark's floor(a / b) over these magnitudes is exact
    — a <= ~5.1e8 is integer-exact in double and the rounding error
    ~a * 2^-53 is far below the 1/span >= 5e-7 gap to the next
    integer), then xhat2 = 510*vmin + (2*code + 1)*span. Constant
    dims (span = 0) encode as code 0 and decode to 510*vmin (exactly
    2*255*q: the dim contributes its true value)."""
    samp = _md5_sample(e, "pqtrain", PQ_TRAIN_CAP).select("vec_id")
    rows = (
        _unit_q(e.join(F.broadcast(samp), "vec_id"))
        .select(F.posexplode("uq").alias("i", "q"))
        .groupBy("i")
        .agg(F.min("q").alias("vmin"), F.max("q").alias("vmax"))
        .collect()
    )
    vmins = [0] * EMB_DIM
    vmaxs = [0] * EMB_DIM
    for r in rows:
        vmins[r.i] = int(r.vmin)
        vmaxs[r.i] = int(r.vmax)
    vmin_c = F.array(*[F.lit(v) for v in vmins])
    vmax_c = F.array(*[F.lit(v) for v in vmaxs])

    def per_dim(q, i):
        lo = F.element_at(vmin_c, i + 1)
        hi = F.element_at(vmax_c, i + 1)
        span = hi - lo
        qc = F.greatest(lo, F.least(hi, q))
        code = F.when(span == F.lit(0), F.lit(0)).otherwise(
            F.floor(
                ((qc - lo) * F.lit(SQ_CODE_MAX)).cast("double")
                / span.cast("double")
            ).cast("long")
        )
        return (
            F.lit(2 * SQ_CODE_MAX) * lo
            + (F.lit(2) * code + F.lit(1)) * span
        )

    return _unit_q(e), F.transform("uq", per_dim)


KNN_IVF_SQ_ORACLE = (
    "WITH "
    + f"""
{_EXD_NORMS},
uqd AS (
  SELECT e.vec_id, e.i,
         CAST(floor(e.x / n.norm * {_LQ}) AS BIGINT) AS q
  FROM exd e JOIN norms n ON n.vec_id = e.vec_id
),
sqsamp AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rk
    FROM (SELECT vec_id, md5(printf('pqtrain|%d', vec_id)) AS h
          FROM embeddings))
  WHERE rk <= {PQ_TRAIN_CAP}
),
sqt AS (
  SELECT u.i, min(u.q) AS vmin, max(u.q) AS vmax
  FROM uqd u JOIN sqsamp m ON m.vec_id = u.vec_id
  GROUP BY u.i
),"""
    + _ivf_cand_ctes()
    + f""",
sqcodes AS (
  SELECT u.vec_id, u.i,
         CASE WHEN t.vmax = t.vmin THEN CAST(0 AS BIGINT)
              ELSE ((greatest(t.vmin, least(t.vmax, u.q)) - t.vmin)
                    * {SQ_CODE_MAX}) // (t.vmax - t.vmin)
         END AS code,
         t.vmin, t.vmax
  FROM uqd u JOIN sqt t ON t.i = u.i
  WHERE u.vec_id >= {ANN_N_QUERIES}
),
sqadc AS (
  SELECT cd.query_id, cd.neighbor_id,
         sum(qq.q * ({2 * SQ_CODE_MAX} * c.vmin
                     + (2 * c.code + 1) * (c.vmax - c.vmin))) AS dot2
  FROM cand cd
  JOIN sqcodes c ON c.vec_id = cd.neighbor_id
  JOIN uqd qq ON qq.vec_id = cd.query_id AND qq.i = c.i
  GROUP BY cd.query_id, cd.neighbor_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot2 DESC, neighbor_id ASC) AS rk
    FROM sqadc)
  WHERE rk <= {IVFPQ_SHORTLIST}
),
{_REFINE_TAIL}"""
)


@query("knn_ivf_sq", oracle=KNN_IVF_SQ_ORACLE)
def knn_ivf_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + 8-bit scalar quantization with exact refinement — FAISS
    IndexIVFScalarQuantizer(QT_8bit) + IndexRefineFlat beside the PQ
    family: same probed-cell candidates as knn_ivfpq, each candidate
    scored by a pure-int64 ADC dot against its decoded per-dim int8
    codes, the top IVFPQ_SHORTLIST exactly re-ranked. The quantizer
    trains per-dim (vmin, vmax) on the engine-standard md5 bottom-k
    sample; encode/decode follow FAISS Codec8bit (floor(255*x) /
    (code+0.5)/255), held in a 2*255-scaled integer form so no step
    divides. DuckDB replays train, encode, ADC, and refine bit for
    bit. tests/test_ann.py pins determinism, a recall floor vs
    knn_bruteforce, and the byte-budget contrast with PQ.

    Scale shape: the trained quantizer is 2 x EMB_DIM ints BROADCAST
    as literal arrays (vs PQ's PQ_M x PQ_K x PQ_SUB codebook); at
    100 TB the store keeps 1 byte/dim codes (8x smaller than floats,
    32x larger than this PQ config — the recall/bytes trade
    pq_recall_compare reports) and decodes at probe time from the
    broadcast bounds; here the decode is one corpus pass fused into
    the encode projection (whole-stage codegen, no fan-out, raw
    floats never move past it). ADC touches probed-cell candidates
    only; exact scoring touches SHORTLIST rows per query."""
    return _on_fixture(sq_topk, spark, sf_dir)


def sq_topk(
    e: DataFrame, n: int | None = None, cells: list | None = None
) -> DataFrame:
    """Core of knn_ivf_sq over any (vec_id, embedding) frame (the
    query wrapper binds it to the fixture table; tests feed synthetic
    corpora with planted exact duplicates). `n` = known corpus count,
    else counted inside _coarse_cells off its cache. Quantizer:
    _coarse_cells' seeded cells; codec: _sq_codec; search: the
    int-dot shortlist over probed-cell candidates."""
    uq, xhat2 = _sq_codec(e)
    _, probes, assigned, _ = _coarse_cells(e, n=n, cells=cells)
    # the query and candidate sides of the shortlist both read uq
    return _dot_shortlist(e, track_cache(uq), xhat2, _probed(probes, assigned))


# PQ stores PQ_M codes of log2(PQ_K) bits; SQ8 stores one byte per
# dimension. The report carries both so the recall column is read
# against its cost (FAISS's memory-vs-recall framing).
PQ_CODE_BYTES = (PQ_M * 4 + 7) // 8  # 4 = log2(PQ_K) bits per code
SQ_CODE_BYTES = EMB_DIM


BIN_CODE_BYTES = EMB_DIM // 8  # one sign bit per dimension


def _bin_oracle_tail() -> str:
    """Shared ADC/shortlist/refine SQL tail for the binary index."""
    return f"""
bcodes AS (
  SELECT vec_id, i, CASE WHEN q >= 0 THEN 1 ELSE -1 END AS s
  FROM uqd WHERE vec_id >= {ANN_N_QUERIES}
),
badc AS (
  SELECT cd.query_id, cd.neighbor_id,
         sum(qq.q * b.s) AS dot2
  FROM cand cd
  JOIN bcodes b ON b.vec_id = cd.neighbor_id
  JOIN uqd qq ON qq.vec_id = cd.query_id AND qq.i = b.i
  GROUP BY cd.query_id, cd.neighbor_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot2 DESC, neighbor_id ASC) AS rk
    FROM badc)
  WHERE rk <= {IVFPQ_SHORTLIST}
),
{_REFINE_TAIL}"""


KNN_IVF_BINARY_ORACLE = (
    "WITH "
    + f"""
{_EXD_NORMS},
uqd AS (
  SELECT e.vec_id, e.i,
         CAST(floor(e.x / n.norm * {_LQ}) AS BIGINT) AS q
  FROM exd e JOIN norms n ON n.vec_id = e.vec_id
),"""
    + _ivf_cand_ctes()
    + ","
    + _bin_oracle_tail()
)


@query("knn_ivf_binary", oracle=KNN_IVF_BINARY_ORACLE)
def knn_ivf_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + binary (1-bit) quantization with exact refinement — the
    FAISS IndexBinaryIVF compression point beside PQ and SQ8: each
    stored vector keeps only the SIGN of each quantized unit
    component (EMB_DIM/8 = 8 bytes, 32x smaller than float32, 8x
    smaller than SQ8), candidates come from the same probed cells,
    and scoring is the ASYMMETRIC dot — full-precision query
    components against the {-1,+1} decoded signs (integer-exact; the
    better-recall big-data variant of pure Hamming distance). The top
    IVFPQ_SHORTLIST are exactly re-ranked. There is NO training
    stage: the codec is data-independent, which is exactly why it is
    the storage floor of the quantizer lineup pq_recall_compare
    grades. DuckDB replays encode, ADC, and refine bit for bit.

    Scale shape: the one corpus pass fuses sign-encode into the scan
    projection; ADC shuffles probed-cell candidate pairs with 8-byte
    codes (digest volume); exact scoring touches SHORTLIST rows per
    query. At 100 TB the binary store is the first-stage filter a
    multi-stage funnel reads before SQ8/PQ/float tiers."""
    return _on_fixture(binary_topk, spark, sf_dir)


def binary_topk(
    e: DataFrame, n: int | None = None, cells: list | None = None
) -> DataFrame:
    """Core of knn_ivf_binary over any (vec_id, embedding) frame. The
    codec is the SIGN of each unit-quantized component, decoded to
    {-1, +1}; the search is the int-dot shortlist over IVF candidates."""
    uq = track_cache(_unit_q(e))
    sign = F.transform(
        "uq",
        lambda q: F.when(q >= F.lit(0), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long"),
    )
    _, probes, assigned, _ = _coarse_cells(e, n=n, cells=cells)
    return _dot_shortlist(e, uq, sign, _probed(probes, assigned))


PQ_RECALL_COMPARE_ORACLE = f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({KNN_ORACLE})),
rawpq AS (SELECT query_id, neighbor_id FROM ({KNN_IVFPQ_ORACLE})),
respq AS (SELECT query_id, neighbor_id FROM ({KNN_IVFPQ_RESIDUAL_ORACLE})),
sq8 AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_SQ_ORACLE})),
bin1 AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_BINARY_ORACLE})),
approx AS (
  SELECT 'ivfpq_raw' AS method, query_id, neighbor_id FROM rawpq
  UNION ALL SELECT 'ivfpq_residual', query_id, neighbor_id FROM respq
  UNION ALL SELECT 'ivf_sq8', query_id, neighbor_id FROM sq8
  UNION ALL SELECT 'ivf_binary', query_id, neighbor_id FROM bin1
),
hits AS (
  SELECT a.method, count(*) AS n_hits
  FROM approx a JOIN truth t
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY a.method
),
tc AS (SELECT count(*) AS n_true FROM truth)
SELECT m.method,
       CAST(m.code_bytes AS INTEGER) AS code_bytes,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(tc.n_true AS BIGINT) AS n_true,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tc.n_true AS recall
FROM (SELECT 'ivfpq_raw' AS method, {PQ_CODE_BYTES} AS code_bytes
      UNION ALL SELECT 'ivfpq_residual', {PQ_CODE_BYTES}
      UNION ALL SELECT 'ivf_sq8', {SQ_CODE_BYTES}
      UNION ALL SELECT 'ivf_binary', {BIN_CODE_BYTES}) m
LEFT JOIN hits h ON h.method = m.method
CROSS JOIN tc
"""


@query("pq_recall_compare", oracle=PQ_RECALL_COMPARE_ORACLE)
def pq_recall_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantizer tuning report, widened to the 4-way FAISS lineup
    (VERDICT r14 #4, + binary in r15): raw-vector PQ vs residual PQ
    at the IDENTICAL code budget (PQ_M x PQ_K, same sample cap, same
    shortlist, same refine), beside 8-bit scalar quantization
    (knn_ivf_sq) and 1-bit binary quantization (knn_ivf_binary) at
    their own budgets — each row carries code_bytes so recall is read
    against memory cost, FAISS's framing: recall@k of each index
    against the brute-force cosine ground truth, micro-averaged
    exact-integer hit counts (the ann_recall_all report shape,
    narrowed to the quantizer family).

    What it reports on the FIXTURES, honestly: residual measures
    slightly WORSE there (0.40 vs 0.48 at sf0.001) — the fixture
    embeddings are near-isotropic, the coarse centroid explains no
    variance, and the residual's spread is ~2x the raw vector's, so
    the same 16 codewords cover it worse. That is the documented FAISS
    caveat, and exactly what a tuning report should surface: the
    by_residual lever pays off when the data is clusterable, which
    tests/test_ivf_lifecycle.py pins with a planted-cluster corpus
    (residual total PQ distortion ~3.1x lower at the same budget).

    Scale: four audited bounded index pipelines + int-pair joins over
    their top-k lists and a 4-row aggregate. Legs are constructed
    concurrently (functions/legs.py, guide §2.6): their eager
    training/checkpoint jobs overlap instead of serializing the
    driver thread."""
    legs = [
        ("ivfpq_raw", PQ_CODE_BYTES, knn_ivfpq),
        ("ivfpq_residual", PQ_CODE_BYTES, knn_ivfpq_residual),
        ("ivf_sq8", SQ_CODE_BYTES, knn_ivf_sq),
        ("ivf_binary", BIN_CODE_BYTES, knn_ivf_binary),
    ]
    truth, approx = _graded_legs(spark, sf_dir, [(t, fn) for t, _, fn in legs])
    methods = spark.createDataFrame(
        [(t, b) for t, b, _ in legs], "method string, code_bytes int"
    )
    return recall_report(truth, approx, methods)


# --- ivf_retrain: the retrain trigger's ACTUATOR (VERDICT r13 #4) ---------
#
# ivf_imbalance / embedding_drift / stream_ivf_maintenance DETECT that
# the frozen codebook has gone stale; this query EXECUTES the rebuild
# and measures the payoff — the same detect->act closure the reference
# wires for replication: ChunkReplicationRunnable doesn't just find
# under-replicated chunks, it orders the copy
# (controller/ChunkReplicationRunnable.java:33-74). "Before" is the
# production state the trigger fired on: the BASE-frozen seeded
# quantizer with the delta folded in (knn_ivf_append's index).
# "After" is the retrained state: the sample-capped fixed-point Lloyd
# quantizer over base ∪ delta (kmeans_cells' exact recurrence — the
# r13 driver-side training), reassigned in one corpus pass
# (knn_ivf_trained's index). Both phases report the SAME instruments:
# occupied cells, max occupancy, hot-cell count (ivf_imbalance's exact
# integer flag over occupied cells), the imbalance factor
# (max_occ x n_cells / n_assigned — FAISS imbalance_factor's
# worst-cell form), and recall@k against the brute-force truth.

# Frozen-quantizer merged assignment as a standalone prefixed CTE
# chain (the KNN_IVF_APPEND_ORACLE pipeline's assignment half, names
# f-prefixed so it composes with any other oracle in one WITH).
_FROZEN_MERGED_CTES = f"""
fex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS x, i
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
fnorms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM fex GROUP BY vec_id
),
fbase AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id >= {ANN_N_QUERIES} AND vec_id % {DELTA_MOD} <> {DELTA_RES}
),
fnl AS (
  SELECT greatest(1, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
      AS nlist
  FROM fbase
),
fsp AS (SELECT nlist, ((nlist + 8) // 9) * 10 + 10 AS w FROM fnl),
fcents AS (
  SELECT vec_id AS cid FROM (
    SELECT b.vec_id, row_number() OVER (ORDER BY b.vec_id) AS rk, s.nlist
    FROM fbase b, fsp s WHERE b.vec_id < {ANN_N_QUERIES} + s.w)
  WHERE rk <= nlist
),
fcdots AS (
  SELECT v.vec_id, c.cid,
         CAST(sum(CAST(floor(v.x * ce.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM fex v
  JOIN fcents c ON true
  JOIN fex ce ON ce.vec_id = c.cid AND ce.i = v.i
  GROUP BY v.vec_id, c.cid
),
fcscores AS (
  SELECT d.vec_id, d.cid, d.dot / (nv.norm * nc.norm) AS cscore
  FROM fcdots d
  JOIN fnorms nv ON nv.vec_id = d.vec_id
  JOIN fnorms nc ON nc.vec_id = d.cid
),
fassigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM fcscores WHERE vec_id >= {ANN_N_QUERIES})
  WHERE rk = 1
)"""


IVF_RETRAIN_ORACLE = (
    "WITH "
    + _FROZEN_MERGED_CTES
    + f""",
truth AS (SELECT query_id, neighbor_id FROM ({KNN_ORACLE})),
b_top AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_APPEND_ORACLE})),
a_top AS (SELECT query_id, neighbor_id FROM ({KNN_IVF_TRAINED_ORACLE})),
a_assign AS (
  SELECT vec_id, cell AS cid FROM ({KMEANS_CELLS_ORACLE})
  WHERE vec_id >= {ANN_N_QUERIES}
),
b_occ AS (SELECT cid, count(*) AS n FROM fassigned GROUP BY cid),
a_occ AS (SELECT cid, count(*) AS n FROM a_assign GROUP BY cid),
b_stats AS (
  SELECT CAST(t.n_cells AS BIGINT) AS n_cells,
         CAST(t.max_occ AS BIGINT) AS max_occ,
         CAST(t.n_assigned AS BIGINT) AS n_assigned,
         CAST(sum(CASE WHEN o.n * t.n_cells * {IMBALANCE_DEN}
                        > t.n_assigned * {IMBALANCE_NUM}
                   THEN 1 ELSE 0 END) AS BIGINT) AS hot_cells
  FROM b_occ o CROSS JOIN (SELECT count(*) AS n_cells, max(n) AS max_occ,
                                  sum(n) AS n_assigned FROM b_occ) t
  GROUP BY t.n_cells, t.max_occ, t.n_assigned
),
a_stats AS (
  SELECT CAST(t.n_cells AS BIGINT) AS n_cells,
         CAST(t.max_occ AS BIGINT) AS max_occ,
         CAST(t.n_assigned AS BIGINT) AS n_assigned,
         CAST(sum(CASE WHEN o.n * t.n_cells * {IMBALANCE_DEN}
                        > t.n_assigned * {IMBALANCE_NUM}
                   THEN 1 ELSE 0 END) AS BIGINT) AS hot_cells
  FROM a_occ o CROSS JOIN (SELECT count(*) AS n_cells, max(n) AS max_occ,
                                  sum(n) AS n_assigned FROM a_occ) t
  GROUP BY t.n_cells, t.max_occ, t.n_assigned
),
tc AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
b_hits AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hits
  FROM b_top t JOIN truth u
    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
),
a_hits AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hits
  FROM a_top t JOIN truth u
    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
)
SELECT 'before' AS phase, s.n_cells, s.max_occ, s.hot_cells,
       CAST(s.max_occ * s.n_cells AS DOUBLE) / s.n_assigned
           AS imbalance_factor,
       h.n_hits, tc.n_true,
       CAST(h.n_hits AS DOUBLE) / tc.n_true AS recall
FROM b_stats s CROSS JOIN b_hits h CROSS JOIN tc
UNION ALL
SELECT 'after', s.n_cells, s.max_occ, s.hot_cells,
       CAST(s.max_occ * s.n_cells AS DOUBLE) / s.n_assigned,
       h.n_hits, tc.n_true,
       CAST(h.n_hits AS DOUBLE) / tc.n_true
FROM a_stats s CROSS JOIN a_hits h CROSS JOIN tc
"""
)


@query("ivf_retrain", oracle=IVF_RETRAIN_ORACLE)
def ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the retrain the maintenance loop's trigger pages for,
    and report the measured payoff (see section comment): one row per
    phase, before = frozen base-seeded codebook with the delta folded
    in, after = sample-capped Lloyd retrain on base ∪ delta with the
    corpus reassigned in one pass. Columns: occupied n_cells, max_occ,
    hot_cells (exact integer ivf_imbalance flag over occupied cells),
    imbalance_factor (max_occ x n_cells / n_assigned), and n_hits /
    n_true / recall@{ANN_K} vs the brute-force truth. The oracle
    replays BOTH trainings (seeded-frozen and Lloyd), both searches,
    the truth, and both occupancy rollups end-to-end, so a hash match
    proves the actuator's rebuild — not just its trigger — is
    bit-faithful.

    Scale: the retrain is the audited r13 recurrence — driver-side
    numpy over the md5 bottom-IVF_TRAIN_CAP sample, ONE broadcast-
    codebook corpus reassignment pass; search legs and occupancy
    rollups are the audited knn_ivf_append / knn_ivf_trained /
    ivf_imbalance shapes (int-key groupBys + broadcast totals). The
    trained-Lloyd pass runs twice (once inside knn_ivf_trained, once
    for the assignment report) — cap-bounded both times, and the legs
    overlap across cores rather than serializing (the measured
    VERDICT-r11-#4 rule against cross-leg memo sharing)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = _corpus_n(spark, sf_dir)
    # The five builders below are independent pipelines whose
    # construction runs eager work (training collects, checkpoint
    # jobs); build them concurrently (functions/legs.py, guide §2.6).
    built = parallel_legs(
        lambda: knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: knn_ivf_append(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: knn_ivf_trained(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: _append_parts(spark, sf_dir),
        lambda: _coarse_cells(e, n=n, trained=True),
    )
    truth = track_cache(built[0])
    b_top = built[1]
    a_top = built[2]
    _v, _b, _d, _c, merged, _p = built[3]
    b_assign = merged.select(F.col("neighbor_id").alias("vec_id"), "cid")
    a_assign = built[4][2].select(F.col("neighbor_id").alias("vec_id"), "cid")
    tc = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))

    def phase_row(assign: DataFrame, topk: DataFrame, phase: str):
        occ = track_cache(
            assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        )
        tot = occ.agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.max("n").cast("long").alias("max_occ"),
            F.sum("n").cast("long").alias("n_assigned"),
        )
        hot = (
            occ.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    (
                        F.col("n")
                        * F.col("n_cells")
                        * F.lit(IMBALANCE_DEN)
                        > F.col("n_assigned") * F.lit(IMBALANCE_NUM)
                    ).cast("int")
                )
                .cast("long")
                .alias("hot_cells")
            )
        )
        hits = topk.join(truth, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        return (
            tot.crossJoin(F.broadcast(hot))
            .crossJoin(F.broadcast(hits))
            .crossJoin(F.broadcast(tc))
            .select(
                F.lit(phase).alias("phase"),
                "n_cells",
                "max_occ",
                "hot_cells",
                (
                    (F.col("max_occ") * F.col("n_cells")).cast("double")
                    / F.col("n_assigned")
                ).alias("imbalance_factor"),
                "n_hits",
                "n_true",
                (
                    F.col("n_hits").cast("double") / F.col("n_true")
                ).alias("recall"),
            )
        )

    return phase_row(b_assign, b_top, "before").unionByName(
        phase_row(a_assign, a_top, "after")
    )


# --- ivf_store_delete: tombstone deletes in the physical store ------------
#
# Curation DROPS documents (dedup keepers, domain caps,
# decontamination), but the physical store only ever appended — the
# FAISS remove_ids gap (VERDICT r13 #5). A delete is the store's
# idempotent fold (_fold_ivf_store) into TOMBSTONES: new tombstone
# files for the affected cells, ids already tombstoned skipped, both
# the guard read and the write limited to those cells. The manifest
# keeps tombstone files apart from data files, so "all" reads
# (ivf_store_prune, the maintenance fold's existing-id guard) see the
# full row set while "live" reads subtract the tombstones. Data files
# are never rewritten (pytest pins byte-identity). The reference
# analog: FileTable's set-semantics remove cascading from corruption
# reports (FileTable.java:107-122) applied at file-store granularity.

def _curation_drops(
    spark: SparkSession, sf_dir: str, cents: list, dropped=None
) -> DataFrame:
    """(vec_id, cid): the semantic-decontamination drop set (or the
    doc_id frame `dropped`) assigned to its frozen cells — the set the
    store queries tombstone. Checkpointed eagerly: the store fold reads
    it three times, and re-deriving decontaminate_semantic each time
    cost more than this job (sf0.1 A/B against a checkpoint inside the
    fold, 4 pairs: the delete, vacuum, live-search and maintenance
    queries won 13 of 16)."""
    if dropped is None:
        dropped = decontaminate_semantic(spark, sf_dir).select("doc_id")
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.join(dropped, e.vec_id == dropped.doc_id).select(
        "vec_id", "embedding", v_norm(F.col("embedding")).alias("norm")
    )
    drops = _cos_rank(vecs, cents, 1).select("vec_id", "cid")
    return drops.localCheckpoint(eager=True)


def delete_ivf_store(
    spark: SparkSession, path: str, drops: DataFrame
) -> None:
    """Fold a batch of (vec_id, cid) deletions into the store's
    tombstones. `drops` carries each dropped vector's cell (the frozen
    codebook makes that deterministic — callers use _cos_rank, never a
    store scan), so a delete costs O(affected cells), not O(store)."""
    _fold_ivf_store(spark, path, drops)


IVF_STORE_DELETE_ORACLE = (
    "WITH "
    + _FROZEN_MERGED_CTES
    + f""",
drops AS (
  SELECT doc_id AS vec_id FROM ({DECONTAMINATE_SEMANTIC_ORACLE})
)
SELECT a.cid,
       CAST(count(*) AS BIGINT) AS rows_total,
       CAST(coalesce(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS rows_tombstoned,
       CAST(count(*)
            - coalesce(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS rows_live
FROM fassigned a LEFT JOIN drops d ON d.vec_id = a.vec_id
GROUP BY a.cid
"""
)


@query("ivf_store_delete", oracle=IVF_STORE_DELETE_ORACLE)
def ivf_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-driven deletes executed against the PHYSICAL store,
    then the post-delete per-cell state read back FROM DISK: the
    semantic-decontamination hit set (the train docs
    decontaminate_semantic flags — a real dropped set a serving index
    must stop returning) is assigned to its frozen cells, tombstoned
    via delete_ivf_store, and the report counts each cell's stored
    rows against its tombstones. Every number is recomputed
    relationally by the oracle from embeddings + documents alone, so a
    hash match proves the disk state — store content AND tombstone
    content — equals the frozen-codebook assignment intersected with
    the decontamination verdict (the ivf_store_prune proof extended to
    the delete path). Idempotent end to end: re-running re-tombstones
    nothing (anti-join fold) and reports identically.

    Scale: the drop set's cells come from the frozen codebook (no
    store scan); tombstone guard + write read and write only the
    affected cells' files; the report is one groupBy(cid) over the
    store's two int metadata columns (column-pruned scan) + an int
    anti-ish left join against the bounded tombstone set. Live probes
    (read_ivf_store) pay one anti-join over the probed cells'
    tombstones only."""
    # Store build (memoized), frozen-codebook parts, and the semantic
    # drop set are independent pipelines: build concurrently (§2.6).
    path, parts, dropped = parallel_legs(
        lambda: _ivf_store_ready(spark, sf_dir),
        lambda: _append_parts(spark, sf_dir),
        lambda: decontaminate_semantic(spark, sf_dir).select("doc_id"),
    )
    _v, _b, _d, cents, _m, _p = parts
    delete_ivf_store(spark, path, _curation_drops(spark, sf_dir, cents, dropped))
    man = read_manifest(spark, path)[0]
    store = read_ivf_store(spark, path, rows="all", man=man)
    tomb = read_ivf_store(spark, path, rows="dead", man=man).select(
        "vec_id", F.lit(1).alias("t")
    )
    rep = (
        # tombstones are bounded by the drop set — broadcast them so
        # the report join never shuffles the store side
        store.select("vec_id", "cid")
        .join(F.broadcast(tomb), "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_total"),
            F.coalesce(F.sum("t"), F.lit(0))
            .cast("long")
            .alias("rows_tombstoned"),
        )
    )
    return rep.select(
        "cid",
        "rows_total",
        "rows_tombstoned",
        (F.col("rows_total") - F.col("rows_tombstoned"))
        .cast("long")
        .alias("rows_live"),
    )


# --- ivf_store_vacuum: applying tombstones physically ---------------------
#
# ivf_store_delete leaves dropped rows masked but stored; a long-lived
# index eventually wants the space and the probe-time anti-join cost
# back. Vacuum is the lakehouse compaction discipline applied to the
# vector store: rewrite ONLY cells whose dead fraction exceeds
# VACUUM_NUM/VACUUM_DEN (exact integer cross-multiply). The vacuumed
# cells' live rows are written as new files, and the version that
# publishes them drops those cells' old data AND tombstone files from
# the manifest in the same rename — there is no state in between in
# which data and tombstones disagree — while untouched cells' files
# stay byte-identical (pytest). A cell vacuumed to EMPTY simply has no
# files. Cells below the threshold keep their tombstones: a rewrite
# there would cost more IO than the anti-join it saves. The reference
# analog: storage reclaim after FileTable's corruption-cascade removes
# (FileTable.java:107-122).

VACUUM_NUM, VACUUM_DEN = 1, 20  # vacuum a cell when >5 % of it is dead


def vacuum_ivf_store(spark: SparkSession, path: str) -> list[int]:
    """Apply tombstones to every cell whose dead fraction exceeds
    VACUUM_NUM/VACUUM_DEN; returns the vacuumed cids (sorted). Reads
    only tombstoned cells' files and writes only vacuumed cells' live
    rows. Idempotent: vacuumed cells lose their tombstones, so a re-run
    finds nothing above threshold and publishes nothing."""
    man, v = read_manifest(spark, path)
    # Bounded control flow: tombstoned cells only, from the manifest.
    tcids = sorted(int(c) for c in man.get("tombs", {}))
    if not tcids:
        return []
    store = read_ivf_store(spark, path, tcids, "all", man)
    tomb = read_ivf_store(spark, path, tcids, "dead", man).select("vec_id")
    dead = (
        store.join(tomb, "vec_id", "left_semi")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("dead"))
    )
    occ = store.groupBy("cid").agg(F.count(F.lit(1)).alias("total"))
    vac = sorted(
        r.cid
        for r in occ.join(dead, "cid")
        .where(
            F.col("dead") * F.lit(VACUUM_DEN)
            > F.col("total") * F.lit(VACUUM_NUM)
        )
        .collect()
    )
    if vac:
        live = read_ivf_store(spark, path, vac, "live", man)
        _commit_ivf(spark, path, man, v, live, drop=set(vac))
    return vac


IVF_STORE_VACUUM_ORACLE = (
    "WITH "
    + _FROZEN_MERGED_CTES
    + f""",
drops AS (
  SELECT doc_id AS vec_id FROM ({DECONTAMINATE_SEMANTIC_ORACLE})
),
occ AS (
  SELECT a.cid,
         count(*) AS total,
         coalesce(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 END), 0)
             AS dead
  FROM fassigned a LEFT JOIN drops d ON d.vec_id = a.vec_id
  GROUP BY a.cid
)
SELECT cid,
       CAST(total AS BIGINT) AS rows_before,
       CAST(dead AS BIGINT) AS rows_dropped,
       (dead * {VACUUM_DEN} > total * {VACUUM_NUM}) AS vacuumed,
       CAST(CASE WHEN dead * {VACUUM_DEN} > total * {VACUUM_NUM}
                 THEN total - dead ELSE total END AS BIGINT)
           AS rows_stored,
       CAST(CASE WHEN dead * {VACUUM_DEN} > total * {VACUUM_NUM}
                 THEN 0 ELSE dead END AS BIGINT) AS tombs_remaining,
       CAST(total - dead AS BIGINT) AS rows_live
FROM occ
"""
)


@query("ivf_store_vacuum", oracle=IVF_STORE_VACUUM_ORACLE)
def ivf_store_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete lifecycle completed: fold the curation drop set as
    tombstones (restricted to rows still present, so a post-vacuum
    replay folds nothing), VACUUM the cells past the dead-fraction
    threshold, then report per cell — rows_before / rows_dropped /
    vacuumed (all relationally replayed) beside rows_stored /
    tombs_remaining MEASURED FROM DISK after the vacuum. A hash match
    proves the physical rewrite did exactly what the relational replay
    predicts: vacuumed cells hold precisely their live rows and zero
    tombstones, untouched cells hold everything plus their unapplied
    tombstones. Runs against its own store path — the shared
    _ivf_store_ready store's row set must stay the full assignment for
    ivf_store_prune's denominators (deletes there stay mask-only).

    Scale: the fold and the vacuum both read only tombstoned cells'
    files; the rewrite touches only above-threshold cells (the
    IO-vs-anti-join break-even the threshold encodes); the report is
    one groupBy(cid) over two int columns plus a broadcast join of the
    bounded disk tombstone set."""
    path = _ivf_store_ready(spark, sf_dir, "ivf_vacuum_store")
    _v, _b, _d, cents, merged, _p = _append_parts(spark, sf_dir)
    drops = _curation_drops(spark, sf_dir, cents)
    dcids = [r.cid for r in drops.select("cid").distinct().collect()]
    present = read_ivf_store(spark, path, dcids, "all").select("vec_id")
    drops_present = drops.join(present, "vec_id", "left_semi")
    delete_ivf_store(spark, path, drops_present)
    vacuum_ivf_store(spark, path)

    # Replayed before-state (deterministic under re-invocation)...
    is_drop = F.col("dv").isNotNull()
    occ = (
        merged.select(F.col("neighbor_id").alias("vec_id"), "cid")
        .join(
            F.broadcast(drops.select(F.col("vec_id").alias("dv"))),
            F.col("vec_id") == F.col("dv"),
            "left",
        )
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.coalesce(F.sum(is_drop.cast("int")), F.lit(0))
            .cast("long")
            .alias("rows_dropped"),
        )
    )
    # ...beside the disk-measured after-state.
    man = read_manifest(spark, path)[0]
    stored = (
        read_ivf_store(spark, path, rows="all", man=man)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_stored"))
    )
    tombs = (
        read_ivf_store(spark, path, rows="dead", man=man)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tombs"))
    )
    vac_flag = (
        F.col("rows_dropped") * F.lit(VACUUM_DEN)
        > F.col("rows_before") * F.lit(VACUUM_NUM)
    )
    return (
        occ.join(stored, "cid", "left")
        .join(F.broadcast(tombs), "cid", "left")
        .select(
            "cid",
            "rows_before",
            "rows_dropped",
            vac_flag.alias("vacuumed"),
            F.coalesce(F.col("n_stored"), F.lit(0))
            .cast("long")
            .alias("rows_stored"),
            F.coalesce(F.col("n_tombs"), F.lit(0))
            .cast("long")
            .alias("tombs_remaining"),
            (F.col("rows_before") - F.col("rows_dropped"))
            .cast("long")
            .alias("rows_live"),
        )
    )


# --- knn_ivf_store_live: search served FROM the store, deletes honored ----

KNN_IVF_STORE_LIVE_ORACLE = (
    "WITH "
    + _FROZEN_MERGED_CTES
    + f""",
fprobes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid ASC) AS rk
    FROM fcscores WHERE vec_id < {ANN_N_QUERIES})
  WHERE rk <= {IVF_NPROBE}
),
drops AS (
  SELECT doc_id AS vec_id FROM ({DECONTAMINATE_SEMANTIC_ORACLE})
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM fprobes p
  JOIN fassigned a ON a.cid = p.cid
  LEFT JOIN drops d ON d.vec_id = a.vec_id
  WHERE d.vec_id IS NULL
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN fex q ON q.vec_id = cd.query_id
  JOIN fex c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT d.query_id, d.neighbor_id,
         d.dot / (nq.norm * nc.norm) AS cosine,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY d.dot / (nq.norm * nc.norm) DESC,
                                     d.neighbor_id ASC) AS rank
  FROM dots d
  JOIN fnorms nq ON nq.vec_id = d.query_id
  JOIN fnorms nc ON nc.vec_id = d.neighbor_id)
WHERE rank <= {ANN_K}
"""
)


@query("knn_ivf_store_live", oracle=KNN_IVF_STORE_LIVE_ORACLE)
def knn_ivf_store_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-visible semantics of remove_ids, end to end: top-k
    search whose candidates AND vectors come off the PHYSICAL
    cell-partitioned store through read_ivf_store — only the probed
    cells' files, tombstoned rows anti-joined out — so a
    curation-dropped document can never be returned. The drop set is
    folded first (idempotent, same set as ivf_store_delete); the
    oracle replays assignment, probes, the drop exclusion, and exact
    fixed-point cosine ranking relationally, so a hash match proves
    disk-served search == the post-delete relational truth.

    Scale: the probe reads nprobe cells' files (the ivf_store_prune
    pin) and one anti-join against those cells' tombstones; the
    query side is a broadcast O(n_queries) slice; scoring touches only
    probed-cell rows (the knn_ivf bound)."""
    path = _ivf_store_ready(spark, sf_dir)
    _v, _b, _d, cents, _m, probes = _append_parts(spark, sf_dir)
    delete_ivf_store(spark, path, _curation_drops(spark, sf_dir, cents))
    probes = track_cache(probes)
    # Bounded control flow: <= n_queries x nprobe probed cells.
    probed = sorted(
        r[0] for r in probes.select("cid").distinct().collect()
    )
    live = read_ivf_store(spark, path, probed).select(
        "vec_id", "embedding", v_norm(F.col("embedding")).alias("norm"), "cid"
    )
    qv = _queries(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", v_norm(F.col("embedding")).alias("norm")
    )
    scored = exact_cosine(qv, live, F.broadcast(probes), on="cid")
    return top_k(scored, "cosine", ANN_K)


# --- ivf_release_versions: versioned index releases (VERDICT r14 #3) ------
#
# The r12-r14 store arc built mutation (append folds, tombstone
# deletes, vacuum) on ONE mutable path; a production training-data
# pipeline ships its index as IMMUTABLE RELEASES so a training run can
# pin the exact index it was built against and a bad release can be
# rolled back by repointing, not rebuilding. This composes the two
# halves the engine already has: sources/snapshots.py's verified-CAS
# atomic-rename versioning (S9) applied to the IVF store's membership
# relation. Three releases are published — v1 the base build, v2 the
# delta fold, v3 post-curation (semantic-decontamination drops
# applied) — and the report reads every number back from the PHYSICAL
# versioned table: per-release row/cell counts plus snapshot_diff
# change counts against the previous release. The oracle replays all
# of it relationally (frozen assignment, residue-class delta split,
# decontamination verdict), so a hash match proves the published
# releases are exactly the relational states they claim to be —
# including upd_from_prev = 0, the frozen-codebook stability invariant
# (a vector's cell NEVER changes between releases; growth and curation
# are pure inserts/deletes). Reference analog: FileTable's atomic
# publish of a file's chunk list under its lock
# (controller/FileTable.java synchronized publish), generalized to
# table versions.

def _release_table_ready(spark: SparkSession, sf_dir: str) -> str:
    """Publish the three index releases once per (application, table
    fingerprint): each release is the (vec_id, cid) membership
    relation — the index METADATA, 2 ints/row — staged and atomically
    renamed into <path>/v=NNNNNNNN by write_snapshot's verified CAS.
    Memoized: a re-invocation reuses the published versions (snapshots
    are immutable, so re-reads are byte-stable by construction).

    Scale: each release write is one parallel parquet pass over the
    membership relation; at 100 TB the vectors themselves stay in the
    cid-partitioned store and a release pins (membership version,
    store manifest) — snapshotting partition directories instead of
    rows, as the snapshots module documents."""
    from ..sources.snapshots import write_snapshot

    def write(path: str) -> None:
        _v, _b, _d, _cents, merged, _p = _append_parts(spark, sf_dir)
        member = merged.select(
            F.col("neighbor_id").alias("vec_id"), "cid"
        )
        is_delta = (F.col("vec_id") % DELTA_MOD) == DELTA_RES
        drops = decontaminate_semantic(spark, sf_dir).select(
            F.col("doc_id").alias("vec_id")
        )
        write_snapshot(spark, member.where(~is_delta), path)  # v1: base
        write_snapshot(spark, member, path)  # v2: delta fold
        write_snapshot(  # v3: curation drops applied
            spark, member.join(drops, "vec_id", "left_anti"), path
        )

    return fixture_store(spark, sf_dir, "ivf_releases", write)


IVF_RELEASE_VERSIONS_ORACLE = (
    "WITH "
    + _FROZEN_MERGED_CTES
    + f""",
drops AS (
  SELECT doc_id AS vec_id FROM ({DECONTAMINATE_SEMANTIC_ORACLE})
),
v1 AS (SELECT vec_id, cid FROM fassigned
       WHERE vec_id % {DELTA_MOD} <> {DELTA_RES}),
v3 AS (SELECT a.vec_id, a.cid FROM fassigned a
       LEFT JOIN drops d ON d.vec_id = a.vec_id
       WHERE d.vec_id IS NULL)
SELECT CAST(1 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT cid) AS BIGINT) AS n_cells,
       CAST(0 AS BIGINT) AS ins_from_prev,
       CAST(0 AS BIGINT) AS del_from_prev,
       CAST(0 AS BIGINT) AS upd_from_prev
FROM v1
UNION ALL
SELECT CAST(2 AS INTEGER),
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT cid) AS BIGINT),
       CAST((SELECT count(*) FROM fassigned
             WHERE vec_id % {DELTA_MOD} = {DELTA_RES}) AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM fassigned
UNION ALL
SELECT CAST(3 AS INTEGER),
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT cid) AS BIGINT),
       CAST(0 AS BIGINT),
       CAST((SELECT count(*) FROM fassigned a
             JOIN drops d ON d.vec_id = a.vec_id) AS BIGINT),
       CAST(0 AS BIGINT)
FROM v3
"""
)


@query("ivf_release_versions", oracle=IVF_RELEASE_VERSIONS_ORACLE)
def ivf_release_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible index releases, end to end: publish the IVF
    membership relation as three immutable snapshot versions (base
    build -> delta fold -> curation drops applied) through the
    verified-CAS atomic-rename publish, then report each release's
    rows/cells AND its snapshot_diff change counts vs the previous
    release — every number MEASURED from the published versioned
    table, every number REPLAYED relationally by the oracle. A hash
    match therefore proves (a) the releases hold exactly the frozen
    assignment / fold / curation states, (b) the physical CDC between
    releases is pure inserts (v1->v2, the delta fold) and pure deletes
    (v2->v3, the drop set), and (c) upd_from_prev = 0 — the frozen
    codebook never reassigns a vector between releases.
    tests/test_snapshots.py pins the serving properties on top:
    time-travel reads pinned to v2 are unaffected by v3's publish and
    by vacuuming v1, and a version-pinned probe can still return a
    curation-dropped vector at v2 but never at v3.

    Scale: three parallel writes of the 2-int membership relation +
    one groupBy and two key-shuffled diffs per adjacent pair; version
    discovery is one O(#versions) driver listing (the metadata cost
    any table format pays)."""
    from ..sources.snapshots import read_snapshot, snapshot_diff

    path = _release_table_ready(spark, sf_dir)
    out = None
    for v in (1, 2, 3):
        snap = read_snapshot(spark, path, v)
        st = snap.agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("cid").cast("long").alias("n_cells"),
        )
        if v == 1:
            row = st.select(
                "version",
                "n_rows",
                "n_cells",
                F.lit(0).cast("long").alias("ins_from_prev"),
                F.lit(0).cast("long").alias("del_from_prev"),
                F.lit(0).cast("long").alias("upd_from_prev"),
            )
        else:
            ch = snapshot_diff(spark, path, v - 1, v, ["vec_id"])
            n_of = lambda t: F.coalesce(  # noqa: E731
                F.sum((F.col("change_type") == t).cast("long")), F.lit(0)
            ).cast("long")
            d = ch.agg(
                n_of("inserted").alias("ins_from_prev"),
                n_of("deleted").alias("del_from_prev"),
                n_of("updated").alias("upd_from_prev"),
            )
            row = st.crossJoin(F.broadcast(d))
        out = row if out is None else out.unionByName(row)
    return out


# --- round 15b: the remaining FAISS index-API surface ---------------------
#
# FAISS's Index API is search / range_search / add / remove_ids /
# reconstruct (faiss/Index.h). The engine already has search (the
# knn_* family), add (knn_ivf_append / the store fold), and remove_ids
# (ivf_store_delete); the two below close the surface:
#
#   * ivf_range_search — range_search on the IVF index: every neighbor
#     within a similarity radius, not a fixed top-k. The training-data
#     use is "find ALL near-matches of these seed documents" (contamination
#     sweeps, recall-oriented dedup), where top-k silently truncates.
#   * sq_reconstruct_error — reconstruct/sa_decode on the SQ8 codec:
#     decode every stored code and report per-cell reconstruction
#     error, the quantization-health audit that tells the maintenance
#     loop (ivf_retrain's trigger family) WHERE the codec is stale.
#
# Both replay bit-for-bit in DuckDB: range search filters an exact
# fixed-point cosine; SQ decode is affine integer math end to end.

RANGE_COS_RADIUS = 0.25  # cosine radius; ~2% of random-pair mass at d=64


IVF_RANGE_SEARCH_ORACLE = (
    "WITH "
    + f"""
{_EXD_NORMS},"""
    + _ivf_cand_ctes()
    + f""",
dots AS (
  SELECT cd.query_id, cd.neighbor_id,
         CAST(sum(CAST(floor(q.x * c.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dot
  FROM cand cd
  JOIN exd q ON q.vec_id = cd.query_id
  JOIN exd c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT d.query_id, d.neighbor_id,
       d.dot / (nq.norm * nc.norm) AS cosine
FROM dots d
JOIN norms nq ON nq.vec_id = d.query_id
JOIN norms nc ON nc.vec_id = d.neighbor_id
WHERE d.dot / (nq.norm * nc.norm) >= {RANGE_COS_RADIUS}
"""
)


@query("ivf_range_search", oracle=IVF_RANGE_SEARCH_ORACLE)
def ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS range_search on the IVF index: ALL neighbors within a
    cosine radius (not a fixed top-k) among the IVF_NPROBE probed
    cells' candidates — the primitive for contamination sweeps and
    recall-oriented dedup where top-k truncation loses matches. Same
    coarse quantizer as knn_ivf (seeded centroids, ceil(sqrt(n))
    cells); candidates are scored with the exact fixed-point cosine
    and filtered by RANGE_COS_RADIUS, so the radius compare is the
    same IEEE double in both engines and DuckDB replays the result
    bit for bit.

    Scale shape: identical to knn_ivf's — per-query work is the
    probed cells' inverted lists (~ n * nprobe / nlist rows), never
    the corpus; the query side is broadcast; output is bounded by
    radius selectivity (~2% of candidate mass at this radius on
    near-isotropic fixtures), not by corpus size. No window, so the
    only shuffle is the candidate join's."""
    return _on_fixture(ivf_range, spark, sf_dir)


def ivf_range(
    e: DataFrame, n: int | None = None, cells: list | None = None
) -> DataFrame:
    """Core of ivf_range_search over any (vec_id, embedding) frame
    (tests feed planted-neighbor corpora)."""
    vecs, probes, assigned, _ = _coarse_cells(e, n=n, cells=cells)
    scored = exact_cosine(
        _queries(vecs),
        vecs.where(F.col("vec_id") >= ANN_N_QUERIES),
        _probed(probes, assigned),
    )
    return scored.where(F.col("cosine") >= F.lit(RANGE_COS_RADIUS))


SQ_RECONSTRUCT_ORACLE = (
    "WITH "
    + f"""
{_EXD_NORMS},
uqd AS (
  SELECT e.vec_id, e.i,
         CAST(floor(e.x / n.norm * {_LQ}) AS BIGINT) AS q
  FROM exd e JOIN norms n ON n.vec_id = e.vec_id
),
sqsamp AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rk
    FROM (SELECT vec_id, md5(printf('pqtrain|%d', vec_id)) AS h
          FROM embeddings))
  WHERE rk <= {PQ_TRAIN_CAP}
),
sqt AS (
  SELECT u.i, min(u.q) AS vmin, max(u.q) AS vmax
  FROM uqd u JOIN sqsamp m ON m.vec_id = u.vec_id
  GROUP BY u.i
),"""
    + _ivf_cand_ctes()
    + f""",
verr AS (
  SELECT vec_id, CAST(sum(ee * ee) AS BIGINT) AS err2
  FROM (
    SELECT u.vec_id,
           {2 * SQ_CODE_MAX} * u.q
           - ({2 * SQ_CODE_MAX} * t.vmin
              + (2 * (CASE WHEN t.vmax = t.vmin THEN CAST(0 AS BIGINT)
                      ELSE ((greatest(t.vmin, least(t.vmax, u.q)) - t.vmin)
                            * {SQ_CODE_MAX}) // (t.vmax - t.vmin) END) + 1)
                * (t.vmax - t.vmin)) AS ee
    FROM uqd u JOIN sqt t ON t.i = u.i
    WHERE u.vec_id >= {ANN_N_QUERIES})
  GROUP BY vec_id
)
SELECT a.cid, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(v.err2) AS BIGINT) AS sum_err2,
       CAST(max(v.err2) AS BIGINT) AS max_err2
FROM verr v JOIN iassigned a ON a.vec_id = v.vec_id
GROUP BY a.cid
"""
)


@query("sq_reconstruct_error", oracle=SQ_RECONSTRUCT_ORACLE)
def sq_reconstruct_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS reconstruct / sa_decode for the SQ8 codec, rolled up as
    the per-cell quantization-health audit: decode every stored
    vector's 8-bit codes (the exact affine integer decode knn_ivf_sq
    scores with — xhat2 = 510*vmin + (2*code + 1)*span in the
    2*255-scaled integer frame) and report, per coarse cell, the
    vector count, total and max squared reconstruction error
    ||510*q - xhat2||^2 against the quantized-unit original. This is
    the number the maintenance loop (ivf_retrain's trigger family)
    reads to find cells whose codec has gone stale after folds — the
    codec-health complement of ivf_imbalance's occupancy audit.
    Everything is int64 arithmetic, so DuckDB replays train, encode,
    decode, and the error fold bit for bit.

    Scale shape: one corpus pass computes the error fused with the
    encode projection (whole-stage codegen, no fan-out) and carries
    it through the _cos_rank cell assignment of the same rows, so no
    join pairs errors with cells; the trained bounds are 2 x EMB_DIM
    literals; the cell rollup shuffles O(n) pre-aggregated
    (cid, err2) longs — digest volume, not vectors — and outputs
    O(nlist) rows."""
    e = load_table(spark, sf_dir, "embeddings")
    _, xhat2 = _sq_codec(e)
    two = F.lit(2 * SQ_CODE_MAX)
    err_arr = F.zip_with(
        F.col("uq"), xhat2, lambda q, x: (two * q - x) * (two * q - x)
    )
    v = _unit_q(
        _with_norm(e).where(F.col("vec_id") >= ANN_N_QUERIES),
        keep=("embedding", "norm"),
    ).select(
        "vec_id",
        "embedding",
        "norm",
        F.aggregate(
            err_arr, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("err2"),
    )
    return (
        _cos_rank(v, _seeded(spark, sf_dir), 1, keep=("err2",))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("err2").alias("sum_err2"),
            F.max("err2").alias("max_err2"),
        )
    )


# --- round 15c: binary quantization + Matryoshka prefix-dim retrieval ----
#
# Two more production ANN idioms, both naturally exact in integers:
#
#   * knn_ivf_binary — FAISS IndexBinaryIVF's compression point: one
#     SIGN BIT per dimension (EMB_DIM/8 = 8 bytes/vector, 32x smaller
#     than float32), scored asymmetrically (full-precision query x
#     {-1,+1} decoded signs — the better-recall variant of Hamming
#     scoring), exact refine of the shortlist. No training at all.
#   * knn_mrl / mrl_recall_compare — Matryoshka-representation
#     retrieval (Kusupati et al. 2022): shortlist with the PREFIX of
#     the embedding re-normalized at d'=MRL_DIM dims (4x fewer bytes
#     touched in the scan), exact full-dim refine — the adaptive
#     funnel modern embedding models are trained for; the report
#     measures recall at each prefix budget against brute force.

MRL_DIM = 16  # funnel prefix dims (knn_mrl); report sweeps (16, 32)
MRL_DIMS = (16, 32)


def _mrl_oracle(dims: int) -> str:
    """Oracle for the MRL funnel at a given prefix width: shortlist by
    the exact integer dot of PREFIX-renormalized quantized units, then
    exact full-dim refine."""
    return f"""
WITH {_EXD_NORMS},
pnorm AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS norm
  FROM exd WHERE i <= {dims} GROUP BY vec_id
),
puq AS (
  SELECT e.vec_id, e.i,
         CAST(floor(e.x / p.norm * {_LQ}) AS BIGINT) AS q
  FROM exd e JOIN pnorm p ON p.vec_id = e.vec_id
  WHERE e.i <= {dims}
),
padc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         sum(q.q * c.q) AS dot2
  FROM puq q JOIN puq c ON c.i = q.i
  WHERE q.vec_id < {ANN_N_QUERIES} AND c.vec_id >= {ANN_N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot2 DESC, neighbor_id ASC) AS rk
    FROM padc)
  WHERE rk <= {IVFPQ_SHORTLIST}
),
{_REFINE_TAIL}"""


KNN_MRL_ORACLE = _mrl_oracle(MRL_DIM)


def mrl_topk(e: DataFrame, dims: int) -> DataFrame:
    """Core of knn_mrl at any prefix width: the unit quantizer over the
    first `dims` components is both the query side and the codec (the
    prefix renormalized), searched by the int-dot shortlist over every
    candidate — no coarse quantizer — with exact full-dim refine."""
    uq = _unit_q(e, dims)
    return _dot_shortlist(e, uq, F.col("uq"))


@query("knn_mrl", oracle=KNN_MRL_ORACLE)
def knn_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation retrieval funnel (Kusupati et al.
    2022, the adaptive-retrieval pattern MRL-trained embedding models
    ship with): shortlist candidates by the exact integer dot of the
    embedding PREFIX re-normalized at MRL_DIM dims — touching 1/4 of
    the bytes a full-dim scan reads — then exactly re-rank the top
    IVFPQ_SHORTLIST at full dimension. Prefix norms and dots use the
    same fixed-point folds as the rest of the family, so DuckDB
    replays shortlist and refine bit for bit.

    Scale shape: the funnel's first stage is a narrow-projection scan
    (columnar stores read only the prefix bytes; here the slice is
    fused into the scan projection) with the query side broadcast; the
    full-dim vectors are read for SHORTLIST rows per query only. At
    100 TB the prefix tier lives beside the binary/SQ8 tiers as the
    progressive-refinement ladder. The report sibling
    (mrl_recall_compare) grades recall per prefix budget."""
    return mrl_topk(load_table(spark, sf_dir, "embeddings"), MRL_DIM)


MRL_RECALL_COMPARE_ORACLE = f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({KNN_ORACLE})),
m16 AS (SELECT query_id, neighbor_id FROM ({_mrl_oracle(16)})),
m32 AS (SELECT query_id, neighbor_id FROM ({_mrl_oracle(32)})),
approx AS (
  SELECT 'mrl16' AS method, 16 AS dims, query_id, neighbor_id FROM m16
  UNION ALL SELECT 'mrl32', 32, query_id, neighbor_id FROM m32
),
hits AS (
  SELECT a.method, count(*) AS n_hits
  FROM approx a JOIN truth t
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY a.method
),
tc AS (SELECT count(*) AS n_true FROM truth)
SELECT m.method,
       CAST(m.dims AS INTEGER) AS dims,
       CAST(m.dims * 4 AS INTEGER) AS scan_bytes,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(tc.n_true AS BIGINT) AS n_true,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / tc.n_true AS recall
FROM (SELECT 'mrl16' AS method, 16 AS dims
      UNION ALL SELECT 'mrl32', 32) m
LEFT JOIN hits h ON h.method = m.method
CROSS JOIN tc
"""


@query("mrl_recall_compare", oracle=MRL_RECALL_COMPARE_ORACLE)
def mrl_recall_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-prefix-budget report for the Matryoshka funnel: for
    each prefix width in MRL_DIMS, recall@k of the funnel (prefix
    shortlist + exact refine) against the brute-force cosine truth,
    with scan_bytes = 4*dims so the recall is read against the bytes
    the first stage touches — the pq_recall_compare framing applied
    to the dimension axis instead of the code axis. Exact-integer hit
    counts; DuckDB replays every leg.

    Scale: two funnel pipelines + int-pair joins and a 2-row
    aggregate; each funnel's first stage reads only its prefix. Legs
    are constructed concurrently (functions/legs.py, guide §2.6)."""
    e = load_table(spark, sf_dir, "embeddings")
    truth, approx = _graded_legs(
        spark,
        sf_dir,
        [(f"mrl{d}", lambda *_, d=d: mrl_topk(e, d)) for d in MRL_DIMS],
    )
    methods = spark.createDataFrame(
        [(f"mrl{d}", d, d * 4) for d in MRL_DIMS],
        "method string, dims int, scan_bytes int",
    )
    return recall_report(truth, approx, methods)
