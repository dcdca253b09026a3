"""The engine's benchmark: one workload, one seed, one measured run.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--out results.jsonl] [--inject-fault]

Workloads: relational, vector_search, streams, dfs_ingest (README.md
gives the rationale). Load model: closed loop, one client, the engine
in-process at local[nproc/2] via ``session.get_spark`` (README.md says
why half).

A run sets the session up SETUP_ROUNDS times (the first launches the
JVM; each later one stops the context and builds a new one) and reports
the median. It then runs one cold pass in the listed order, whose
outputs are checked, and as many warm passes, each in a seeded order,
as fit in the rest of ``--seconds`` at the workload's NOMINAL_PASS_S
(at least MIN_WARM_PASSES). With
``--trace 0`` it prints every end-to-end metric; with ``--trace 1`` it
traces every other warm pass and prints the per-layer metrics. The
last stdout line is the result object; the line before it is the run
context.

``--out`` appends the full record (context, metrics, per-pass figures)
to a JSON-lines file, the input of compare.py. ``--inject-fault``
corrupts one output (a chunk's bytes on dfs_ingest, one result row on
the read workloads) so the run must count a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Two rounds, so the median (their mean) keeps the JVM launch: with
# three, the median would always be a restart round.
SETUP_ROUNDS = 2
MIN_WARM_PASSES = 2
# Typical (cold-pass, warm-pass) seconds per workload at local[2]
# (relational and streams: at local[4], before the C1-only switch). A run
# does a fixed number of warm passes derived from --seconds and these
# figures, so both sides of a comparison do the same work and follow the
# same JIT warm-up (warm passes still get 10-15 % faster over the first
# three).
NOMINAL_PASS_S = {
    "relational": (40.0, 20.0), "vector_search": (13.0, 6.5),
    "streams": (40.0, 20.0), "dfs_ingest": (17.0, 10.0),
}
# Workloads whose set-up builds the six cached DFS views. The others
# never read them at set-up; streams builds the ones it reads on first
# use, inside its cold pass.
SETUP_VIEWS = {"relational"}
DRIVER_MEM = "2g"

WORKLOADS = ["relational", "vector_search", "streams", "dfs_ingest"]


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append the full run record to this JSONL file")
    p.add_argument("--inject-fault", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    pin the session shape the benchmark is defined for."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what an earlier run left
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # No hsperfdata files in /tmp, from the launcher JVM or the Spark
    # driver. C1 only: a run is a fresh JVM for about a minute, and C2
    # compiling through the warm passes made them vary twice as much.
    java_opts = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    # Half the cores: the pandas-UDF worker processes, the JIT and GC
    # threads and the driver's own Python run beside the task threads.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc() // 2))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    sys.path.insert(0, ROOT)
    os.chdir(WORK)


def ensure_dataset() -> str:
    """The read workloads' dataset, generated once per checkout."""
    import gen

    path = os.path.join(WORK, f"data-v{gen.VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_dataset(tmp)
        os.replace(tmp, path)
    return path


def git_sha() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree of
    its own (a parent directory's repository does not count)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2:
        return None
    return lines[1] if os.path.realpath(lines[0]) == os.path.realpath(ROOT) else None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tail(samples: list[float]) -> dict:
    """Latency at the highest percentile with at least ten samples
    beyond it."""
    s = sorted(samples)
    # below twenty samples that percentile falls under the median, so
    # report the worst sample instead
    k = len(s) - 11 if len(s) >= 20 else len(s) - 1
    return {"value": s[k], "percentile": round(100.0 * (k + 1) / len(s), 2),
            "samples": len(s)}


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.ingest = args.workload == "dfs_ingest"

    # --- set-up -----------------------------------------------------------

    def setup_round(self) -> dict:
        reg = self.registry
        t0 = time.perf_counter()
        spark = self.session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        noop(spark.range(32).mapInPandas(lambda it: (p for p in it), "id long"))
        reg.clear_caches()
        t2 = time.perf_counter()
        if self.args.workload in SETUP_VIEWS:
            self.build_views(spark)
        t3 = time.perf_counter()
        self.spark = spark
        return {"start_s": t1 - t0, "warmup_s": t2 - t1, "views_s": t3 - t2,
                "total_s": t3 - t0}

    def build_views(self, spark) -> None:
        from cs686_big_data_p1_spark import views

        for build in (views.chunks_df, views.replicas_df, views.heartbeats_df,
                      views.checksums_stored_df, views.free_space_df, views.nodes_df):
            noop(build(spark, self.data_dir))

    def set_up(self) -> list[dict]:
        rounds = []
        for r in range(SETUP_ROUNDS):
            if r:
                self.spark.stop()
            rounds.append(self.setup_round())
        return rounds

    # --- passes -----------------------------------------------------------

    def pass_ops(self, n: int) -> list:
        if self.ingest:
            return self.ingest_w.ops(os.path.join(WORK, "ingest", f"pass{n}"))
        ops = list(self.read_ops)
        if n:  # the cold pass keeps the listed order, so the same
            self.rng.shuffle(ops)  # operation pays each first-use cost
        return ops

    def run_op(self, op, check: bool, traced: bool) -> dict:
        tracer = self.tracer
        w0, t0 = time.time(), time.perf_counter()
        mark = tracer.mark()
        ok, error, out, cached = True, None, None, 0
        run = op.first_run if check and op.first_run else op.run
        with tracer.span("operation") as op_id:
            try:
                if op.span:
                    with tracer.span(op.span):
                        out = run()
                else:
                    out = run()
            except Exception as e:  # noqa: BLE001 — counted as a failed operation
                ok, error = False, f"{type(e).__name__}: {e}"
            if traced:  # its own span, so it is not read as the operation's time
                with tracer.span("trace.probe"):
                    cached = self.sprobe.cached_bytes()
            with tracer.span("clear"):
                self.registry.clear_caches()
        t1, w1 = time.perf_counter(), time.time()
        rec = {"name": op.name, "s": t1 - t0, "ok": ok}
        if traced:
            spans = tracer.since(mark)
            split = next((s["end"] for s in spans
                          if s["name"] == "construct" and s["parent"] == op_id), None)
            self.stream_probe.drain()
            rec["spark"] = self.sprobe.window(
                w0, w1, None if split is None else w0 + (split - t0))
            rec["cached_bytes"] = cached
        if check and ok and op.check is not None:
            try:
                op.check(out)
            except Exception as e:  # noqa: BLE001 — a wrong output is a failure
                ok, error = False, f"{type(e).__name__}: {e}"
                rec["ok"] = False
        if error:
            rec["error"] = error[:500]
            print(f"perfbench: {op.name} failed: {error[:500]}", file=sys.stderr)
        return rec

    def run_pass(self, n: int, traced: bool) -> dict:
        ops = self.pass_ops(n)
        self.tracer.enabled = traced
        if traced:
            self.stream_probe.attach(self.spark)
        span_mark, batch_mark = self.tracer.mark(), self.stream_probe.mark()
        recs = [self.run_op(op, check=n == 0, traced=traced) for op in ops]
        self.tracer.enabled = False
        self.stream_probe.detach_all()
        rec = {"n": n, "traced": traced, "wall_s": sum(r["s"] for r in recs), "ops": recs}
        if traced:
            rec["layers"] = self.layer_figures(
                rec, self.tracer.since(span_mark), self.stream_probe.since(batch_mark))
        if self.ingest:
            root = os.path.join(WORK, "ingest", f"pass{n}")
            rec["stored_bytes"], rec["files"] = self.stored(root)
            shutil.rmtree(root, ignore_errors=True)
        return rec

    def warm_passes(self) -> int:
        """Warm passes that fit in --seconds after the cold pass."""
        cold, warm = NOMINAL_PASS_S[self.args.workload]
        return max(MIN_WARM_PASSES, round((self.args.seconds - cold) / warm))

    def measure(self) -> list[dict]:
        # Trace runs alternate untraced and traced warm passes, starting
        # untraced, so the tracing overhead is measured inside one process.
        return [self.run_pass(n, traced=bool(self.args.trace) and n > 0 and n % 2 == 0)
                for n in range(1 + self.warm_passes())]

    # --- figures ----------------------------------------------------------

    def view_figures(self, setup: list[dict]) -> None:
        """views.* for a traced run. Workloads that do not build the
        views at set-up build them once here, after the passes, so the
        JVM is as warm as in a later set-up round."""
        if self.args.workload in SETUP_VIEWS:
            self.views_s = statistics.median(r["views_s"] for r in setup)
            self.views_bytes = self.base_bytes
            return
        t0 = time.perf_counter()
        self.build_views(self.spark)
        self.views_s = time.perf_counter() - t0
        self.views_bytes = self.sprobe.cached_bytes() - self.base_bytes

    def layer_figures(self, rec: dict, spans: list[dict], batches: list[dict]) -> dict:
        from tracing import self_times

        def total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def count(name):
            return sum(1 for s in spans if s["name"] == name)

        wall = rec["wall_s"]
        sp = {}
        for op in rec["ops"]:
            for k, v in op["spark"].items():
                sp[k] = sp.get(k, 0) + v
        core_s = sp["core_s"]
        legs_wall = total("legs")
        last_state: dict[str, dict] = {}
        for b in batches:
            last_state[b["query"]] = b
        mb = 1 / 2**20
        construct = total("construct")
        return {
            "tables.input_mb": sp["input_bytes"] * mb,
            "tables.input_records": sp["input_records"],
            "operators.construct_s": construct,
            "operators.construct_jobs": sp["construct_jobs"],
            "operators.construct_share": construct / wall,
            "spark.execute_s": total("execute"),
            "spark.jobs": sp["jobs"],
            "spark.stages": sp["stages"],
            "spark.tasks": sp["tasks"],
            "spark.core_s": core_s,
            "spark.core_busy_frac": core_s / (wall * self.sprobe.cores),
            "spark.shuffle_write_mb": sp["shuffle_write_bytes"] * mb,
            "spark.shuffle_read_mb": sp["shuffle_read_bytes"] * mb,
            "spark.gc_s": sp["gc_s"],
            "spark.output_mb": sp["output_bytes"] * mb,
            "spark.dup_stage_core_s": sp["dup_core_s"],
            "spark.dup_stage_frac": sp["dup_core_s"] / core_s if core_s else 0.0,
            "registry.cache_calls": count("lazy_cache") + count("eager_cache"),
            "registry.eager_cache_calls": count("eager_cache"),
            "registry.eager_cache_s": total("eager_cache"),
            "registry.cached_mb_peak": max(
                [max(0, op["cached_bytes"] - self.base_bytes) * mb for op in rec["ops"]]),
            "registry.clear_s": total("clear"),
            "legs.calls": count("legs"),
            "legs.wall_s": legs_wall,
            "legs.overlap": total("leg") / legs_wall if legs_wall else 0.0,
            "streaming.batches": len(batches),
            "streaming.empty_batches": sum(1 for b in batches if b["rows"] == 0),
            "streaming.input_rows": sum(b["rows"] for b in batches),
            "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
            "streaming.trigger_overhead_s": sum(
                b["trigger_ms"] - b["add_batch_ms"] for b in batches) / 1e3,
            "streaming.state_rows": sum(b["state_rows"] for b in last_state.values()),
            "streaming.state_mb": sum(b["state_bytes"] for b in last_state.values()) * mb,
            "streaming.state_commit_s": sum(b["commit_ms"] for b in batches) / 1e3,
            "sources.upload_s": total("sources.upload"),
            "sources.download_s": total("sources.download"),
            "sources.verify_s": total("sources.verify"),
            "sources.commit_s": total("sources.commit"),
            "sources.upsert_s": total("sources.upsert"),
            "sources.fold_s": total("sources.fold"),
            "sources.compact_s": total("sources.compact"),
            "ann.store_build_s": total("ann.store_build"),
            "ann.store_delete_s": total("ann.store_delete"),
            "ann.store_vacuum_s": total("ann.store_vacuum"),
            "ann.store_probe_s": total("ann.store_probe"),
            "trace.op_self_s": self_times(spans).get("operation", 0.0),
        }

    @staticmethod
    def stored(root: str) -> tuple[int, int]:
        total = files = 0
        for d, _, names in os.walk(root):
            for name in names:
                total += os.path.getsize(os.path.join(d, name))
                files += 1
        return total, files

    def metrics(self, setup: list[dict], passes: list[dict]) -> dict:
        med = statistics.median
        warm = passes[1:]
        ops = [o for p in passes for o in p["ops"]]
        failed = sum(1 for o in ops if not o["ok"])
        if not self.args.trace:
            warm_ops = [o["s"] for p in warm for o in p["ops"]]
            return {
                "setup_s": (med(r["total_s"] for r in setup), "s"),
                "cold_pass_s": (passes[0]["wall_s"], "s"),
                "pass_s": (med(p["wall_s"] for p in warm), "s"),
                "op_p50_s": (med(warm_ops), "s"),
                "op_tail_s": (tail(warm_ops)["value"], "s"),
            }
        traced = [p for p in warm if p["traced"]]
        plain = [p for p in warm if not p["traced"]]
        units = {"_s": "s", "_mb": "MB", "_mb_peak": "MB", "_frac": "ratio",
                 "_share": "ratio", ".overlap": "ratio"}
        out = {
            "session.start_s": (med(r["start_s"] for r in setup), "s"),
            "session.warmup_s": (med(r["warmup_s"] for r in setup), "s"),
            "views.build_s": (self.views_s, "s"),
            "views.cached_mb": (self.views_bytes / 2**20, "MB"),
            "rss_peak_mb": (vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid), "MB"),
        }
        for key in traced[0]["layers"]:
            unit = next((u for suf, u in units.items() if key.endswith(suf)), "count")
            out[key] = (med(p["layers"][key] for p in traced), unit)
        if self.ingest:
            out["sources.bytes_written_mb"] = (
                med(p["stored_bytes"] for p in traced) / 2**20, "MB")
            out["sources.files_written"] = (med(p["files"] for p in traced), "count")
            ratio = med(p["stored_bytes"] for p in traced) / self.ingest_w.input_bytes
        else:
            out["sources.bytes_written_mb"] = (0.0, "MB")
            out["sources.files_written"] = (0, "count")
            ratio = 0.0
        out["stored_bytes_per_input_byte"] = (ratio, "ratio")
        out["failed_frac"] = (failed / len(ops), "ratio")
        out["trace.overhead_frac"] = (
            med(p["wall_s"] for p in traced) / med(p["wall_s"] for p in plain) - 1, "ratio")
        return out

    # --- run --------------------------------------------------------------

    def run(self) -> int:
        args = self.args
        import gen
        from pyspark import SparkContext

        self.data_dir = ensure_dataset()
        if self.ingest:
            inputs = gen.write_ingest_inputs(
                os.path.join(WORK, "inputs", f"seed{args.seed}"), args.seed)

        from cs686_big_data_p1_spark import registry, session

        import tracing

        self.registry, self.session = registry, session
        self.tracer = tracing.Tracer()
        self.stream_probe = tracing.StreamProbe(self.tracer)
        if args.trace:
            tracing.install(self.tracer, self.stream_probe)
        # imported after install(): it imports operator modules
        import workloads

        registry.load_all()
        self.rng = random.Random(args.seed)

        load_start = os.getloadavg()
        setup = self.set_up()
        try:
            self.jvm_pid = SparkContext._gateway.proc.pid
            if args.trace:
                self.sprobe = tracing.SparkProbe(self.spark)
                # storage held before the passes: the views, on relational
                self.base_bytes = self.sprobe.cached_bytes()
            if self.ingest:
                self.ingest_w = workloads.Ingest(
                    self.spark, self.data_dir, inputs, args.seed,
                    corrupt=args.inject_fault)
            else:
                from oracle import OracleCache

                self.oracle = OracleCache(self.data_dir, os.path.join(WORK, "oracle"))
                names = workloads.resolve(
                    registry, workloads.READ_WORKLOADS[args.workload])
                self.read_ops = workloads.read_ops(
                    self.spark, registry, self.oracle, self.data_dir, names,
                    noop, self.tracer, corrupt=args.inject_fault)
            passes = self.measure()
            if args.trace:
                self.view_figures(setup)
            metrics = self.metrics(setup, passes)
        finally:
            self.shutdown()

        ops = [o for p in passes for o in p["ops"]]
        failed = sum(1 for o in ops if not o["ok"])
        context = self.context(load_start, passes)
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if args.trace:
            self_s = tracing.self_times(self.tracer.spans)
            path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"context": context, "self_s": self_s,
                           "spans": self.tracer.spans}, f)
            context["spans_file"] = path
            context["self_s"] = self_s
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"context": context, "result": result,
                                    "setup": setup, "passes": passes}) + "\n")
        print(json.dumps({"context": context}))
        print(json.dumps(result))
        return 0

    def context(self, load_start, passes) -> dict:
        import pyspark

        from tools.check_oracle import engine_source_sha

        warm = passes[1:]
        ops = [o["s"] for p in warm for o in p["ops"]]
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
            "loadavg_start": list(load_start),
            "loadavg_end": list(os.getloadavg()),
            "pyspark": pyspark.__version__,
            "git_sha": git_sha(),
            "engine_sha": engine_source_sha(),
            "passes": len(passes),
            "op_tail": tail(ops) if ops else None,
        }

    def shutdown(self) -> None:
        """Stop the context, the py4j gateway and the JVM, and wait for
        the JVM to exit."""
        from pyspark import SparkContext

        if getattr(self, "oracle", None) is not None:
            self.oracle.close()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    engine = os.path.join(ROOT, "cs686_big_data_p1_spark")
    if not os.path.isdir(engine):
        print(f"perfbench: engine package not found at {engine}", file=sys.stderr)
        return 2
    prepare_env()
    return Bench(args).run()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
