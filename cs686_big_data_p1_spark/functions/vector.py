"""Deterministic vector math over array<float> embedding columns.

All reductions quantize each term to a fixed-point bigint
(floor(term * 1e12)) and sum integers, so results are order-independent
and bit-identical between Spark's distributed fold and DuckDB's serial
fold: float32 widens exactly to double, a product of two float32s is
exact in double (48-bit mantissa < 53), floor is exact, and bigint
addition is associative. No double->decimal rounding-rule dependence,
and integer sums are cheaper than decimal arithmetic at scale.

The same 1e12 quantization appears verbatim in every oracle SQL string
that checks these operators (operators/llm.py, operators/ann.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

SCALE = 1e12


def norm_sq_q(col: Column) -> Column:
    """Quantized squared L2 norm: sum_i floor(x_i^2 * 1e12) as bigint.

    In-row array fold (F.aggregate) — no explode, no shuffle.
    Divide by 1e12 (after cast to double) for the real value.
    """
    return F.aggregate(
        col,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * x.cast("double") * F.lit(SCALE)).cast(
            "bigint"
        ),
    )


def norm(col: Column) -> Column:
    """L2 norm as double, derived from the quantized squared norm."""
    return F.sqrt(norm_sq_q(col).cast("double") / F.lit(SCALE))


def dot_q(a: Column, b: Column) -> Column:
    """Quantized dot product: sum_i floor(a_i * b_i * 1e12) as bigint."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(SCALE)
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product as double, from the quantized fold."""
    return dot_q(a, b).cast("double") / F.lit(SCALE)


# --- Arrow-vectorized fast path -------------------------------------------
#
# F.aggregate / F.zip_with are CodegenFallback in Spark — every lambda
# step is interpreted, ~1 us/element. For pair-scoring stages that fold
# millions of elements, the same quantized math runs 100x faster as a
# numpy batch inside a pandas UDF: float32 -> float64 widening, IEEE
# double multiply, floor, int64 sum are all bit-identical to the
# column-expression fold, so results (and the DuckDB oracles) are
# unchanged. Sub-batching keeps peak memory per Arrow batch bounded.


def _stack(s: pd.Series) -> np.ndarray:
    return np.stack(s.to_numpy()).astype(np.float64)


@F.pandas_udf(LongType())  # DataType object: usable before a session exists
def pair_dot_q_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Quantized dot product, Arrow-batched: identical semantics to
    dot_q (floor(a_i*b_i*1e12) summed as int64), vectorized."""
    out = np.empty(len(a), dtype=np.int64)
    for lo in range(0, len(a), 4096):
        hi = min(lo + 4096, len(a))
        av = _stack(a.iloc[lo:hi])
        bv = _stack(b.iloc[lo:hi])
        out[lo:hi] = np.floor(av * bv * SCALE).astype(np.int64).sum(axis=1)
    return pd.Series(out)


def pair_dot_pd(a: Column, b: Column) -> Column:
    """Dot product as double via the Arrow-batched quantized fold."""
    return pair_dot_q_pd(a, b).cast("double") / F.lit(SCALE)


@F.pandas_udf(LongType())  # DataType object: usable before a session exists
def pair_sqdist_q_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact integer squared L2 distance between two ALREADY-QUANTIZED
    int64 vectors (array<bigint> columns): sum_i (a_i - b_i)^2 as
    int64, Arrow-batched. This is the Lloyd-assignment kernel: the
    relational form (component explode + join on i + rollup) fans out
    n*k*d rows per round, where this computes the identical integers
    over the n*k crossJoin pairs — the same shape/speed trade
    pair_dot_q_pd makes for cosine scoring. Callers quantize with the
    engine-standard floor(x * quantum) column transform, so the sums
    are bit-identical to the oracles' exploded folds. Overflow
    envelope: |q| <= ~2e6 per component (1e-6 quantum on unit-ish
    data) -> per-term <= 1.6e13, 64-dim sum <= 1.1e15 << 2^63."""
    out = np.empty(len(a), dtype=np.int64)
    for lo in range(0, len(a), 4096):
        hi = min(lo + 4096, len(a))
        av = np.stack(a.iloc[lo:hi].to_numpy()).astype(np.int64)
        bv = np.stack(b.iloc[lo:hi].to_numpy()).astype(np.int64)
        d = av - bv
        out[lo:hi] = (d * d).sum(axis=1)
    return pd.Series(out)


@F.pandas_udf(LongType())  # DataType object: usable before a session exists
def pair_doti_q_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact int64 dot product between two ALREADY-INTEGER vectors
    (array<bigint> columns): sum_i a_i * b_i, Arrow-batched. The SQ8
    ADC kernel (knn_ivf_sq): the query side carries quantized unit
    components (|q| <= ~1e6), the candidate side carries the scaled
    int decode of its 8-bit codes (|x| <= ~1.6e9), so per-term
    products stay <= ~1.6e15 and a 64-dim sum <= ~1.1e17 << 2^63 —
    pure integer arithmetic, bit-identical to the oracle's exploded
    per-dimension fold."""
    out = np.empty(len(a), dtype=np.int64)
    for lo in range(0, len(a), 4096):
        hi = min(lo + 4096, len(a))
        av = np.stack(a.iloc[lo:hi].to_numpy()).astype(np.int64)
        bv = np.stack(b.iloc[lo:hi].to_numpy()).astype(np.int64)
        out[lo:hi] = (av * bv).sum(axis=1)
    return pd.Series(out)


# --- Search layer: the exact-cosine scorers and the top-k rule -------------
#
# Every exact top-k in the ANN family (operators/llm.py, operators/ann.py,
# streaming/vectors.py) scores with exact_cosine and ranks with top_k, and
# every corpus-pair cosine of the dedup family scores with pair_cosine, so
# the cosine expression and the tie rule the oracles replay are written
# once.


def _side(frame: DataFrame, id_col: str, prefix: str) -> DataFrame:
    extra = [c for c in frame.columns if c not in ("vec_id", "embedding", "norm")]
    return frame.select(
        F.col("vec_id").alias(id_col),
        F.col("embedding").alias(f"{prefix}_emb"),
        F.col("norm").alias(f"{prefix}_norm"),
        *extra,
    )


def exact_cosine(
    q: DataFrame,
    c: DataFrame,
    cand: DataFrame | None = None,
    on: str = "neighbor_id",
    keep: tuple = (),
) -> DataFrame:
    """(query_id, neighbor_id, *keep, cosine) by the fixed-point cosine
    pair_dot_pd(q_emb, c_emb) / (q_norm * c_norm).

    `q` and `c` are (vec_id, embedding, norm, *extra) frames, aliased to
    the query side (query_id, q_emb, q_norm, *extra) and the candidate
    side (neighbor_id, c_emb, c_norm, *extra). With no `cand`, every
    pair is scored: c x broadcast(q). Otherwise `cand` (query_id plus
    `on`) joins c on `on`, then broadcast(q) on query_id."""
    qs = _side(q, "query_id", "q")
    cs = _side(c, "neighbor_id", "c")
    if cand is None:
        pairs = cs.crossJoin(F.broadcast(qs))
    else:
        pairs = cand.join(cs, on).join(F.broadcast(qs), "query_id")
    return pairs.select(
        "query_id",
        "neighbor_id",
        *keep,
        (
            pair_dot_pd(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )


def pair_cos() -> Column:
    """The fixed-point cosine of one (a_emb, a_norm, b_emb, b_norm) row,
    as `cosine`: the corpus-pair form of exact_cosine's expression."""
    return (
        pair_dot_pd(F.col("a_emb"), F.col("b_emb"))
        / (F.col("a_norm") * F.col("b_norm"))
    ).alias("cosine")


def pair_cosine(pairs: DataFrame, vecs: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b, cosine) for each id pair of `pairs`, both ids drawn from
    the (vec_id, embedding, norm) frame `vecs`. Both sides are
    corpus-scale, so `vecs` joins on `a` and then on `b` by shuffle,
    never by broadcast."""
    return (
        pairs.join(_side(vecs, a, "a"), a)
        .join(_side(vecs, b, "b"), b)
        .select(a, b, pair_cos())
    )


def top_k(
    scored: DataFrame,
    score: str,
    k: int,
    asc: bool = False,
    by: tuple = ("query_id",),
) -> DataFrame:
    """The one ranking rule: within each `by` partition, order by
    `score` (descending, or ascending for a distance), break ties on
    ascending neighbor_id, and keep row_number() <= k as `rank`."""
    order = F.asc(score) if asc else F.desc(score)
    w = Window.partitionBy(*by).orderBy(order, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
