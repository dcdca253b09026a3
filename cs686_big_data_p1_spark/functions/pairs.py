"""Candidate-pair layer for the dedup family.

Every near-duplicate query in operators/llm.py, operators/ann.py and
streaming/neardup.py finds candidates the same way: group rows by a
bucket key (an LSH band signature, a SimHash band, a rare n-gram, a
hyperplane bucket), skip buckets too crowded to pair, self-join the
rest, and keep each distinct id pair once. It then verifies candidates
by exact set overlap or by exact cosine (functions/vector.py's
pair_cosine). These functions write each decision once, so the cap
rule and the pair rule the oracles replay live in one place.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def capped(sigs: DataFrame, key: list, cap: int) -> DataFrame:
    """The rows of `sigs` whose `key` bucket holds 2 to `cap` rows. A
    bucket with one member cannot form a pair, so the lower bound only
    trims join input; above `cap` a bucket is a degenerate pile-up (a
    boilerplate cluster, an undersized hash) that would make the pair
    set quadratic. The count is a window over the bucket key, so its
    shuffle is the one the self-join on that key needs anyway, and
    `sigs` is computed once (a groupBy count joined back by left_semi
    reads it twice)."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*key))
    kept = sigs.withColumn("_n", n).where(F.col("_n").between(2, cap))
    return kept.drop("_n")


def bucket_pairs(
    sigs: DataFrame, id: str, key, cap: int, directed: bool = False
) -> DataFrame:
    """Distinct id pairs that share a bucket of 2 to `cap` members.

    `sigs` holds one row per (id, bucket); `key` names the bucket
    column(s). Output columns are `id` with its `_id` suffix swapped
    for `_a` / `_b` (doc_id -> doc_a, doc_b): one row per unordered
    pair with a < b, or per ordered pair with a != b when `directed`."""
    key = [key] if isinstance(key, str) else list(key)
    a, b = (id.removesuffix("_id") + s for s in ("_a", "_b"))
    kept = capped(sigs.select(id, *key), key, cap)
    keep = F.col(a) != F.col(b) if directed else F.col(a) < F.col(b)
    return (
        kept.select(F.col(id).alias(a), *key)
        .join(kept.select(F.col(id).alias(b), *key), key)
        .where(keep)
        .select(a, b)
        .distinct()
    )


def set_overlap(cand: DataFrame, sets: DataFrame, elem: str) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) for each candidate pair: the
    exact size of the intersection of the two docs' `elem` sets and
    each set's size. `sets` holds distinct (doc_id, elem) rows; only
    candidate pairs are joined to their members."""
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), elem), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), elem), ["doc_b", elem])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
    )


def jaccard() -> Column:
    """|A ∩ B| / |A ∪ B| over set_overlap's counts: one exact integer
    subtraction, one int-to-double conversion and one division, so the
    double is identical in every engine."""
    return (
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    ).alias("jaccard")
