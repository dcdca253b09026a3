"""Scale-evidence run (VERDICT r9 #8): measure sf0.1 -> sf1 scaling.

Runs the N most expensive queries from the committed BENCH_DETAIL.json
once at sf0.1 and once at the generated sf1 fixture (tools/make_sf1.py,
10x rows with copy-disjoint keys/content), and records the measured
scaling exponent  e = log10(t_sf1 / t_sf0.1)  per query — e = 1 is
perfectly linear in rows, e < 1 means fixed overheads still dominate,
e > 1 means super-linear growth and needs to be justified by the
operator's documented complexity (iterative rounds, pair volume).

Writes SCALING_SF1.json and prints a markdown table for SCALING.md.

Usage: python tools/scale_run.py [N_QUERIES]
       python tools/scale_run.py --remeasure q1 [q2 ...]
Run on an IDLE box (same caveat as bench.py).

--remeasure re-times ONLY the named queries and merges the fresh
measurements into the existing SCALING_SF1.json (bumping a per-row
`attempts` counter so the artifact says how many timings the recorded
exponent took) — for re-checking a single breach on an idle box
without paying the full sweep. The merged row REPLACES the old one:
the artifact always holds one actual measured (t, t, e) triple, never
a hand-picked min.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cs686_big_data_p1_spark import registry  # noqa: E402
from cs686_big_data_p1_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "testdata_sf1")

# Always-measured additions beyond the top-N bench list (VERDICT r10
# #6): the round-10 newcomers whose scale shapes had no measured
# exponent — the graduated Lloyd quartet (training-barrier cost), the
# stride-1 window-explode substring pair, the KLL sampler, and the
# five-pipeline recall report.
EXTRA_QUERIES = [
    "kmeans_cells",
    "knn_ivf_trained",
    "knn_ivfpq",
    "substring_dedup",
    "substring_scrub",
    "kll_quantiles",
    "ann_recall_all",
    # round-12 newcomers (the incremental-index family + curation)
    "knn_ivf_append",
    "ivf_imbalance",
    "stream_ivf_assign",
    "cluster_keep_best",
    "embedding_drift",
    "stream_embedding_drift",
    # round-13 newcomers (store pruning, hygiene, maintenance loop)
    "ivf_store_prune",
    "ivf_nprobe_sweep",
    "decontaminate_semantic",
    "stream_decontaminate",
    "decontaminate_report",
    "corpus_curate_decontaminated",
    "stream_ivf_maintenance",
    # round-14 newcomers (residual PQ, retrain actuator, deletes,
    # live semantic decontamination)
    "knn_ivfpq_residual",
    "pq_recall_compare",
    "ivf_retrain",
    "ivf_store_delete",
    "stream_decontaminate_semantic",
    "ivf_store_vacuum",
    "knn_ivf_store_live",
    # round-15 newcomers (SQ8, versioned releases, live serving)
    "knn_ivf_sq",
    "ivf_release_versions",
    "stream_knn_store",
]

# Documented-complexity exponent allowlist (ADVICE r10): operators
# whose docstrings commit to a super-linear-in-rows form may measure
# above the default linear cap without that being a regression. The
# adaptive-cell ANN/semantic family balances assignment (n x sqrt(n))
# and within-cell pair volume (n x occupancy) at O(n^1.5) — see
# ann.py _nlist — so their honest ceiling is e = 1.5. Everything not
# listed here is asserted effectively linear-or-better (<= 1.05 in
# tests/test_entry.py). The value is recorded per query in the
# artifact as expected_e so the gate checks measured <= expected +
# tolerance instead of a blind global cap.
EXPECTED_E = {
    "dedup_semantic": 1.5,
    "corpus_curate_semantic": 1.5,
    "kmeans_cells": 1.5,
    "kmeans_lloyd": 1.5,
    "knn_ivf": 1.5,
    "knn_ivf_trained": 1.5,
    "knn_ivfpq": 1.5,
    "knn_pq_adc": 1.5,
    "ann_recall": 1.5,
    "ann_recall_all": 1.5,
    "allpairs_cosine": 1.5,  # PPJoin prefix-filtered pair stage
    # frozen-codebook assignment is the same n x ceil(sqrt(n_base))
    # crossJoin family as knn_ivf
    "knn_ivf_append": 1.5,
    "ivf_imbalance": 1.5,
    "stream_ivf_assign": 1.5,
    # r13: store build/probe and maintenance fold ride the same
    # frozen-codebook assignment family; the hygiene legs ride
    # SemDeDup's adaptive-cell within-cell pair stage
    "ivf_store_prune": 1.5,
    "ivf_nprobe_sweep": 1.5,
    "stream_ivf_maintenance": 1.5,
    "decontaminate_semantic": 1.5,
    "decontaminate_report": 1.5,
    "corpus_curate_decontaminated": 1.5,
    # r14: residual PQ rides the same IVF assignment + cap-bounded
    # training family; the retrain actuator composes both quantizer
    # trainings + searches; deletes and live semantic decontamination
    # ride the frozen-codebook / SemDeDup adaptive-cell families
    "knn_ivfpq_residual": 1.5,
    "pq_recall_compare": 1.5,
    "ivf_retrain": 1.5,
    "ivf_store_delete": 1.5,
    "stream_decontaminate_semantic": 1.5,
    "ivf_store_vacuum": 1.5,
    "knn_ivf_store_live": 1.5,
    # r15: SQ8 rides the IVF assignment + sample-capped trainer family;
    # releases publish the O(n) membership relation three times; live
    # serving is the store-live search as a stream
    "knn_ivf_sq": 1.5,
    "ivf_release_versions": 1.5,
    "stream_knn_store": 1.5,
}


# Cold-path rows (VERDICT r12 #9): these queries consume a
# process-lifetime fixture memo (tables.fixture_memo / fixture_store,
# named by tag below — e.g. "cluster_labels", llm.py's converged
# label-prop), so whichever of them scale_run times FIRST pays the full
# build while the bench's min-of-2 measures the warm memo hit. Their
# recorded exponents are therefore COLD-path bounds — the honest worst
# case — and must not be compared against warm bench seconds. The flag
# rides in the artifact so the gate's bound stays interpretable.
COLD_PATH = {
    "dedup_clusters": "first cluster_labels consumer in the process "
    "pays the full label propagation (bench min-of-2 measures the "
    "warm memo hit)",
    "cluster_keep_best": "shares cluster_labels with dedup_clusters; "
    "cold when it runs first in the process",
    "decontaminate_semantic": "first sem_assign consumer pays "
    "the n x sqrt(n) cell-assignment pass",
    "decontaminate_report": "composes both hygiene legs; pays "
    "whichever memos (sem_assign) are still cold",
    "corpus_curate_decontaminated": "consumes curated_set and "
    "(transitively) cluster_labels + sem_assign; cold when it "
    "runs before the curation queries",
    "ivf_store_prune": "first ivf_store consumer pays the physical "
    "base-store write + delta fold",
    "stream_ivf_maintenance": "first ivf_maint_store consumer pays "
    "the base-store write; later drains fold as no-ops",
    "ivf_store_delete": "composes ivf_store (physical store build) "
    "and sem_assign (the decontamination drop set); cold when "
    "it runs before ivf_store_prune / the semantic hygiene queries",
    "stream_decontaminate_semantic": "first run builds the persisted "
    "cid-partitioned eval side (sem_decon_store) and pays the "
    "sem_assign assignment pass; later drains fold as no-ops",
    "ivf_store_vacuum": "first run builds its own physical store "
    "(ivf_vacuum_store) and pays the sem_assign drop-set "
    "pass; the replayed fold+vacuum are then no-ops",
    "knn_ivf_store_live": "composes ivf_store and the "
    "sem_assign drop set; cold when it runs first",
    "knn_ivf_sq": "first sem_assign/corpus_n consumers may pay shared "
    "memo builds; its own SQ trainer is sample-capped (never corpus-scale)",
    "ivf_release_versions": "first run PUBLISHES the three snapshot "
    "versions (ivf_releases) and pays the sem_assign drop-set "
    "pass; re-invocations read the immutable versions",
    "stream_knn_store": "composes ivf_store and the sem_assign "
    "drop set; first drain serves every query, replays fold nothing",
}


def run_one(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    remeasure = sys.argv[1:2] == ["--remeasure"]
    prior = {}
    if remeasure:
        top = sys.argv[2:]
        assert top, "--remeasure needs query names"
        prior = json.load(open(os.path.join(REPO, "SCALING_SF1.json")))[
            "queries"
        ]
    else:
        n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 15
        detail = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
        top = [
            k
            for _, k in sorted(
                ((v, k) for k, v in detail["queries"].items() if v > 0),
                reverse=True,
            )[:n_queries]
        ]
        top += [q for q in EXTRA_QUERIES if q not in top]
    registry.load_all()
    # Record the load BEFORE any work starts (VERDICT r14 #6): the
    # artifact must be able to PROVE the box was idle at the start,
    # not just report whatever the run itself drove the load to.
    loadavg_start = round(os.getloadavg()[0], 2)
    spark = get_spark("scale_run")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM + python-worker warmup (bench.py's convention)
    run_one(spark, registry.QUERIES["tpch_q1_pricing"], SF01)
    spark.range(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()

    results = {}
    for name in top:
        fn = registry.QUERIES[name]
        row = {}
        for sf_dir, key in ((SF01, "t_sf0_1"), (SF1, "t_sf1")):
            try:
                row[key] = round(run_one(spark, fn, sf_dir), 3)
            except Exception as e:  # noqa: BLE001
                print(f"scale_run error {name} @ {sf_dir}: {e}",
                      file=sys.stderr, flush=True)
                row[key] = -1.0
            finally:
                registry.clear_caches()
        if row["t_sf0_1"] > 0 and row["t_sf1"] > 0:
            row["exponent"] = round(
                math.log10(row["t_sf1"] / row["t_sf0_1"]), 3
            )
        else:
            row["exponent"] = None
        row["expected_e"] = EXPECTED_E.get(name, 1.0)
        if name in COLD_PATH:
            row["cold"] = True
            row["cold_note"] = COLD_PATH[name]
        row["attempts"] = prior.get(name, {}).get("attempts", 0) + 1
        results[name] = row
        print(
            f"{name:28s} sf0.1={row['t_sf0_1']:8.2f}s "
            f"sf1={row['t_sf1']:8.2f}s e={row['exponent']}",
            flush=True,
        )

    if remeasure:
        merged = dict(prior)
        merged.update(results)
        results = merged
    out = {
        "sf_pair": [0.1, 1.0],
        "loadavg_1m_start": loadavg_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        "queries": results,
    }
    with open(os.path.join(REPO, "SCALING_SF1.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)

    print("\n| query | sf0.1 s | sf1 s | exponent |")
    print("|---|---|---|---|")
    for name, row in sorted(
        results.items(), key=lambda kv: -(kv[1]["exponent"] or 0)
    ):
        print(
            f"| {name} | {row['t_sf0_1']:.2f} | {row['t_sf1']:.2f} "
            f"| {row['exponent']} |"
        )


if __name__ == "__main__":
    main()
