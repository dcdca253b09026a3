"""Bounded iteration for the engine's iterative queries.

PageRank, BFS, connected components (dedup_clusters) and the
distributed Lloyd trainer all run the same bulk-synchronous loop: a
DataFrame state, one step per round, and an eager localCheckpoint
after each step, so every round plans against a materialized,
depth-1 table instead of the whole accumulated lineage. The loops
that stop early read one aggregate per round to decide. That value
rides the checkpoint's own job as an Observation, so deciding costs
no extra job.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def iterate(
    seed: DataFrame, step: Callable, rounds: int, fixpoint: Column | None = None
) -> tuple[DataFrame, bool]:
    """Cut `seed`, then run `state = step(state, i)` for i = 1..rounds,
    cutting each round (one eager localCheckpoint apiece).

    `fixpoint` is an aggregate over the state, observed on each cut.
    The loop stops at the first round whose value equals the previous
    cut's and returns (state, True). An empty state observes None, and
    None == None, so an empty input converges at once. Without a
    `fixpoint`, or when the rounds run out first, it returns
    (state, False)."""

    def cut(df: DataFrame):
        if fixpoint is None:
            return df.localCheckpoint(eager=True), None
        obs = Observation()
        df = df.observe(obs, fixpoint.alias("fixpoint"))
        return df.localCheckpoint(eager=True), obs.get["fixpoint"]

    state, prev = cut(seed)
    for i in range(1, rounds + 1):
        state, cur = cut(step(state, i))
        if fixpoint is not None and cur == prev:
            return state, True
        prev = cur
    return state, False
