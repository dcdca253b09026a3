"""Concurrent construction of independent query legs.

Composed report queries (ann_recall_all, pq_recall_compare, ivf_retrain,
…) call several complete index pipelines and union/join their outputs.
Building each leg is NOT free at plan time: trained pipelines run eager
driver-side work while the DataFrame is being constructed — sample
collects, fixed-point Lloyd iterations, eager ``localCheckpoint`` jobs,
and Catalyst analysis round-trips — all of it serialized on the single
caller thread (measured: ann_recall_all spends ~10-15 s inside ``fn()``
before the first action, >85% of it blocked in py4j socket reads while
the JVM runs one small job at a time).

Spark's scheduler happily runs several jobs at once inside one
application (optimization guide §2.6 "Overlap independent jobs"); the
legs are independent subtrees, so constructing them from a small thread
pool overlaps their training jobs and checkpoint materializations
across the idle cores. This does NOT share state between legs — each
leg still derives its own pipeline (the r11-measured rule: sharing a
cached subtree between legs serializes the execution critical path and
loses; overlapping their *construction* has no such coupling).

Determinism: each leg's DataFrame is bit-identical however it is
constructed (training samples are seed/cap-bounded and collected from
deterministic frames); the caller composes results in its fixed leg
order, so the final plan — and the result — is unchanged.

``inheritable_thread_target`` propagates the caller's JVM-thread-local
state (job group/description, session tags) into the pool threads and
cleans the mapped JVM thread up afterwards — the documented way to run
driver threads in pinned-thread mode (pyspark.util).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target


# Jobs-in-flight cap (guide §2.6: "2-3 jobs in flight is plenty: enough
# to fill the tail, not so many that they fight for executors"; VERDICT
# r15 #4). ivf_retrain fans out 5 legs, each launching its own Spark
# jobs — uncapped, a loaded box multiplies scheduler pressure for no
# tail benefit (the r15 contended-run collapse). Measured cap=3 vs
# cap=4 vs uncapped on an idle box (4 reps each, alternating order,
# warm session, sf0.1): floors 4.41/4.55/4.20 s on ivf_retrain and
# 5.46/5.36/5.27 s on ann_recall_all — within noise, so the cap is
# free where it doesn't help and protective where it does.
MAX_LEG_WORKERS = 3


def parallel_legs(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent zero-arg leg builders concurrently; return their
    results in argument order. Exceptions propagate to the caller (a
    failed leg must fail the composed query loudly, not silently);
    once one leg fails, not-yet-started legs are cancelled rather than
    burning Spark jobs behind a doomed query (ADVICE r15).

    Legs may share fixture-derived memos: tables.fixture_memo /
    fixture_store lock each key, so legs that miss the same cold key
    build it once."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(
        max_workers=min(len(thunks), MAX_LEG_WORKERS)
    ) as pool:
        futures = [pool.submit(inheritable_thread_target(t)) for t in thunks]
        try:
            return [f.result() for f in futures]
        except BaseException:
            for f in futures:
                f.cancel()  # queued-but-unstarted legs never run
            raise
