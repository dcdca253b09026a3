"""Per-query profiling probe (optimization guide §1).

For each named query (default: all registered), runs ONE cold pass with
the Spark UI enabled and reports:

  * construction wall (the ``fn(spark, sf_dir)`` call — driver-side
    eager work: collects, Lloyd rounds, localCheckpoint jobs, analysis)
  * execution wall (noop-sink write of the returned frame, guide §1.4)
  * stage totals from the UI REST API for the job group: #jobs,
    #stages, task core-seconds, input/shuffle bytes
  * DUPLICATE-STAGE signatures: completed stages grouped by
    (name, numTasks, inputBytes, shuffleWriteBytes); any signature
    executed >= 2x is recomputation — its excess core-seconds are the
    redundancy budget (the r15 detector, now committed as a tool).

Usage: python tools/profile_queries.py [--json OUT] query [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]

    from pyspark.sql import SparkSession

    from cs686_big_data_p1_spark import registry, views
    from cs686_big_data_p1_spark.session import default_driver_memory

    registry.load_all()
    names = args or sorted(registry.QUERIES)
    # get_spark() pins spark.ui.enabled=false (right for the bench);
    # the probe needs the REST API, so it mirrors the session confs
    # with the UI on — measurement only, never the timed harness.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("profile-probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "20000")
        .config(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        print("UI disabled — set spark.ui.enabled", file=sys.stderr)
        return 2
    app = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app}"

    # warm-up: JVM, python workers, DFS views (bench.py parity)
    registry.QUERIES["tpch_q1_pricing"](spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    for build in (
        views.chunks_df,
        views.replicas_df,
        views.heartbeats_df,
        views.checksums_stored_df,
        views.free_space_df,
        views.nodes_df,
    ):
        build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    registry.clear_caches()

    out = {}
    for name in names:
        fn = registry.QUERIES[name]
        group = f"probe-{name}"
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark.sparkContext.setJobGroup(None, None)

        jobs = [
            j
            for j in rest(base, "/jobs?status=succeeded")
            if j.get("jobGroup") == group
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        sigs: dict[tuple, list[dict]] = {}
        tot_core_s = tot_in = tot_shw = n_stages = 0
        for sid in stage_ids:
            try:
                infos = rest(base, f"/stages/{sid}")
            except Exception:  # noqa: BLE001 — skipped stages 404
                continue
            for s in infos:
                if s["status"] != "COMPLETE":
                    continue
                n_stages += 1
                key = (
                    s["name"],
                    s["numCompleteTasks"],
                    s["inputBytes"],
                    s["shuffleWriteBytes"],
                )
                sigs.setdefault(key, []).append(s)
                tot_core_s += s["executorRunTime"] / 1e3
                tot_in += s["inputBytes"]
                tot_shw += s["shuffleWriteBytes"]
        dup_core_s = 0.0
        dup_list = []
        for key, group_stages in sigs.items():
            if len(group_stages) >= 2:
                times = [g["executorRunTime"] / 1e3 for g in group_stages]
                excess = sum(times) - max(times)
                dup_core_s += excess
                dup_list.append(
                    {
                        "name": key[0].split("\n")[0][:60],
                        "n": len(group_stages),
                        "tasks": key[1],
                        "in": key[2],
                        "shw": key[3],
                        "excess_core_s": round(excess, 2),
                    }
                )
        out[name] = {
            "construct_s": round(t1 - t0, 3),
            "execute_s": round(t2 - t1, 3),
            "n_jobs": len(jobs),
            "n_stages": n_stages,
            "core_s": round(tot_core_s, 2),
            "input_mb": round(tot_in / 1e6, 1),
            "shuffle_w_mb": round(tot_shw / 1e6, 1),
            "dup_core_s": round(dup_core_s, 2),
            "dups": sorted(
                dup_list, key=lambda d: -d["excess_core_s"]
            )[:8],
        }
        print(
            f"{name}: construct={out[name]['construct_s']}s "
            f"exec={out[name]['execute_s']}s jobs={len(jobs)} "
            f"stages={n_stages} core_s={out[name]['core_s']} "
            f"dup_core_s={out[name]['dup_core_s']}",
            flush=True,
        )
        registry.clear_caches()
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
