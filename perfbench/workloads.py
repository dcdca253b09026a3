"""The benchmark's workloads: what one pass runs and how it is checked.

A pass is a list of ``Op``s. ``run`` is the timed operation and returns
what ``check`` needs; ``check`` runs untimed and raises ``WrongOutput``
on a wrong result. ``span`` names the layer the operation's time is
reported under in the traced run.

The read workloads (``relational``, ``vector_search``, ``streams``)
run registered queries against the generated dataset; ``dfs_ingest``
drives the engine's write-side public functions on seed-generated
inputs. The rationale for each list is in README.md.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cs686_big_data_p1_spark.operators import ann
from cs686_big_data_p1_spark.sources import chunk_io, formats, incremental, snapshots
from tools.check_oracle import compare

RELATIONAL = [
    # the DFS-parity core (registry slots 1-24)
    "chunk_plan", "chunk_assign", "recovery_scan", "reassembly_order",
    "event_dispatch", "checksum_compute", "checksum_verify",
    "chunkname_parse", "chunkname_format", "unit_convert", "free_space_total",
    "replica_count", "chunk_count", "file_manifest", "list_filenames",
    "incomplete_files", "dead_nodes", "node_inventory",
    "replicas_on_offline_nodes", "surviving_replicas", "lost_chunks",
    "replicas_after_corruption", "placement_candidates", "inventory_delta",
] + [f"tpch_q{i}" for i in range(1, 23)]

# Trimmed to fit the benchmark's run budget (README.md): the recall
# composition (knn_bruteforce, ann_lsh and knn_ivf built as
# parallel_legs) and the streaming IVF assignment.
VECTOR_SEARCH = ["ann_recall", "stream_ivf_assign"]

STREAMS = [
    "stream_node_last_seen", "stream_liveness_state",
    "stream_corruption_alerts", "stream_hb_session", "stream_trending",
    "stream_sessionize", "stream_attribution", "stream_dedup_ttl",
    "stream_throttle", "stream_replication_orders", "stream_dedup_near",
    "stream_ivf_assign",
]

READ_WORKLOADS = {
    "relational": RELATIONAL,
    "vector_search": VECTOR_SEARCH,
    "streams": STREAMS,
}


class WrongOutput(Exception):
    """An operation returned a result that fails its check."""


@dataclass
class Op:
    name: str
    span: str | None
    run: Callable[[], Any]
    check: Callable[[Any], None] | None = None
    # the cold pass runs this instead of ``run`` when set
    first_run: Callable[[], Any] | None = None


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


def resolve(registry, names: list[str]) -> list[str]:
    """Registry names for a workload list; ``tpch_q<N>`` expands to the
    registered ``tpch_q<N>_<suffix>`` query."""
    out = []
    for n in names:
        if n in registry.QUERIES:
            out.append(n)
            continue
        hits = [q for q in registry.QUERIES if q.startswith(n + "_")]
        if len(hits) != 1:
            raise KeyError(f"workload names unknown query {n!r}")
        out.append(hits[0])
    return out


def read_ops(spark, registry, oracle, data_dir: str, names: list[str],
             noop: Callable, tracer, corrupt: bool = False) -> list[Op]:
    """One Op per query: construct (``fn``), then execute into the noop
    sink. The cold pass collects the result instead, as a caller
    checking it would, and the check compares it with the oracle;
    ``corrupt`` drops one row of the first query's result first, to
    show that the check catches a wrong output."""
    ops = []
    for i, name in enumerate(names):
        fn = registry.QUERIES[name]

        def run(fn=fn, sink=noop):
            with tracer.span("construct"):
                df = fn(spark, data_dir)
            with tracer.span("execute"):
                return sink(df)

        def check(sdf, name=name, drop_row=corrupt and i == 0):
            if drop_row:
                sdf = sdf.iloc[1:]
            problems = oracle.problems(name, registry.ORACLES[name], sdf)
            expect(not problems, f"{name}: " + "; ".join(problems))

        collect = lambda fn=fn: run(fn, lambda df: df.toPandas())  # noqa: E731
        ops.append(Op(name, None, run, check, first_run=collect))
    return ops


class Ingest:
    """dfs_ingest: the DFS client's upload/download/verify path, table
    snapshots and maintenance, and the IVF store lifecycle, each pass in
    a fresh directory."""

    def __init__(self, spark, data_dir: str, inputs: dict, seed: int,
                 corrupt: bool = False) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.inputs = inputs
        self.rng = np.random.default_rng(seed)
        self.corrupt = corrupt
        self.input_bytes = sum(
            os.path.getsize(p)
            for p in [*inputs["files"].values(), *inputs["orders"]]
        )
        self.uploads = {
            name: Path(path).read_bytes() for name, path in inputs["files"].items()
        }
        self.upload_dir = os.path.dirname(next(iter(inputs["files"].values())))
        self.batches = [pd.read_parquet(p) for p in inputs["orders"]]
        # the IVF store's (vec_id, cid), read by the first pass's build check
        self.store: pd.DataFrame | None = None

    def _orders(self, b: int):
        return self.spark.read.parquet(self.inputs["orders"][b])

    def ops(self, root: str) -> list[Op]:
        spark = self.spark
        if os.path.exists(root):
            shutil.rmtree(root)
        os.makedirs(root)
        chunks, snap = f"{root}/chunks", f"{root}/snapshots"
        upserted, stats = f"{root}/orders_by_day", f"{root}/daily_stats"
        compacted, ivf = f"{root}/orders_compacted", f"{root}/ivf"
        state: dict[str, Any] = {"versions": []}

        def upload():
            df = chunk_io.ingest_binary_files(spark, self.upload_dir)
            if self.corrupt:  # rotate one chunk's bytes, keep its checksum
                first = min(self.uploads)
                hit = (F.col("filename") == first) & (F.col("sequence_no") == 0)
                rotated = F.concat(F.expr("substring(data, 2)"), F.expr("substring(data, 1, 1)"))
                df = df.withColumn("data", F.when(hit, rotated).otherwise(F.col("data")))
            chunk_io.write_chunks(df, chunks)

        ops = [Op("upload", "sources.upload", upload)]
        for name, payload in sorted(self.uploads.items()):
            ops.append(Op(
                f"download_{name}", "sources.download",
                lambda name=name: chunk_io.reassemble(spark, chunks, name),
                lambda got, want=payload, name=name: expect(
                    got == want, f"{name}: downloaded bytes differ from upload"),
            ))
        ops.append(Op(
            "verify", "sources.verify",
            lambda: chunk_io.verify_chunks(chunk_io.read_chunks(spark, chunks)).count(),
            lambda bad: expect(bad == 0, f"verify_chunks found {bad} corrupt chunks"),
        ))

        for b in range(len(self.batches)):
            ops.append(Op(
                f"commit_{b}", "sources.commit",
                lambda b=b: state["versions"].append(
                    snapshots.write_snapshot(spark, self._orders(b), snap)),
            ))

        def diff():
            v = state["versions"]
            rows = snapshots.snapshot_diff(spark, snap, v[0], v[1], ["o_orderkey"])
            return {r[0]: r[1] for r in rows.groupBy("change_type").count().collect()}

        def check_diff(got):
            old, new = self.batches[0], self.batches[1]
            common = set(old.o_orderkey) & set(new.o_orderkey)
            want = {"inserted": len(new) - len(common), "deleted": len(old) - len(common)}
            merged = old.merge(new, on="o_orderkey", suffixes=("_o", "_n"))
            cols = [c for c in old.columns if c != "o_orderkey"]
            changed = ~np.logical_and.reduce(
                [merged[f"{c}_o"] == merged[f"{c}_n"] for c in cols])
            if changed.sum():
                want["updated"] = int(changed.sum())
            expect(got == want, f"snapshot_diff {got} != {want}")

        ops.append(Op("snapshot_diff", "sources.commit", diff, check_diff))
        ops.append(Op(
            "snapshot_vacuum", "sources.commit",
            lambda: (snapshots.vacuum_snapshots(spark, snap, keep_last=1),
                     snapshots.read_snapshot(spark, snap).count()),
            lambda got: expect(
                got == (state["versions"][:-1], len(self.batches[-1])),
                f"vacuum/read returned {got}"),
        ))

        # One upsert and one fold, of the first batch: the second batch's
        # (the merges into existing state) did not fit the run budget
        # (README.md).
        by_day = self._orders(0).withColumn(
            "day", F.date_format("o_orderdate", "yyyy-MM-dd"))

        def check_upsert(_):
            want = self.batches[0].drop_duplicates("o_orderkey", keep="last")
            got = spark.read.parquet(upserted).drop("day").toPandas()
            problems = compare("upsert", got, want)
            expect(not problems, "upsert store: " + "; ".join(problems))

        ops.append(Op(
            "upsert_0", "sources.upsert",
            lambda: formats.upsert_parquet_partitioned(
                spark, upserted, by_day, ["o_orderkey"], "day"),
            check_upsert,
        ))
        ops.append(Op(
            "fold_0", "sources.fold",
            lambda: incremental.maintain_daily_order_stats(
                spark, stats, self._orders(0)),
        ))

        def check_fold(_):
            # full recompute of the folded batch, exact in integer micro-units
            rows = self.batches[0]
            rows = rows.assign(
                day=rows.o_orderdate.dt.floor("D"),
                e6=(rows.o_totalprice * 1_000_000).round().astype("int64"))
            want = rows.groupby(["day", "o_orderpriority"], as_index=False).agg(
                n_orders=("e6", "size"), e6=("e6", "sum"))
            want["sum_total"] = want.pop("e6") / 1e6
            got = incremental.read_daily_order_stats(spark, stats).toPandas()
            problems = compare("daily_stats", got, want)
            expect(not problems, "incremental vs full recompute: " + "; ".join(problems))

        ops[-1].check = check_fold
        ops.append(Op(
            "compact", "sources.compact",
            lambda: formats.compact_parquet(spark, upserted, compacted),
            lambda n: expect(
                len(pd.read_parquet(compacted, columns=["o_orderkey"]))
                == self.batches[0].o_orderkey.nunique(),
                "compaction changed the row count"),
        ))

        # The store is the base corpus only: append_ivf_store (the delta
        # batch's fold) did not fit the run budget (README.md).
        def ivf_build():
            ann.write_ivf_base_store(spark, self.data_dir, ivf)

        def check_build(_):
            # the store holds every vector but the ANN query probes and
            # the delta batch. Every pass builds the same store (the
            # codebook is frozen), so its assignment, read here, is what
            # each pass's delete draws from.
            self.store = spark.read.parquet(ivf).select("vec_id", "cid").toPandas()
            ids = self.store.vec_id
            all_ids = pd.read_parquet(
                f"{self.data_dir}/embeddings.parquet", columns=["vec_id"]).vec_id
            want = int(((all_ids >= ann.ANN_N_QUERIES)
                        & (all_ids % ann.DELTA_MOD != ann.DELTA_RES)).sum())
            expect(len(ids) == ids.nunique() == want,
                   f"IVF store holds {len(ids)} rows, {ids.nunique()} ids, want {want}")

        def ivf_delete():
            # drop a seeded tenth of two seeded cells: past the vacuum threshold
            store = self.store
            cells = sorted(store.cid.unique())
            picked = store[store.cid.isin(self.rng.choice(cells, 2, replace=False))]
            drops = picked.sample(frac=0.1, random_state=int(self.rng.integers(2**31)))
            state["cids"] = [int(c) for c in cells]
            state["dropped"] = set(drops.vec_id)
            state["n_live"] = len(store) - len(drops)
            ann.delete_ivf_store(
                spark, ivf, spark.createDataFrame(drops, "vec_id long, cid int"))

        ops.append(Op("ivf_build", "ann.store_build", ivf_build, check_build))
        ops.append(Op("ivf_delete", "ann.store_delete", ivf_delete))
        ops.append(Op(
            "ivf_vacuum", "ann.store_vacuum",
            lambda: ann.vacuum_ivf_store(spark, ivf),
            lambda cells: expect(len(cells) >= 1, "vacuum rewrote no cell"),
        ))

        def check_probe(live):
            ids = set(live.vec_id)
            leaked = ids & state["dropped"]
            expect(not leaked, f"probe returned dropped ids {sorted(leaked)[:5]}")
            expect(len(live) == state["n_live"],
                   f"probe returned {len(live)} rows, want {state['n_live']}")

        ops.append(Op(
            "ivf_probe", "ann.store_probe",
            lambda: ann.probe_ivf_store_live(spark, ivf, state["cids"])
            .select("vec_id").toPandas(),
            check_probe,
        ))
        return ops

