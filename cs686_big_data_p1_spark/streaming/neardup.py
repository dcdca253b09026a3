"""Streaming near-duplicate detection: MinHash-LSH over a document
stream with an accumulating bucket store.

A crawl-ingest pipeline can't afford to re-run batch dedup_near over
the whole corpus every time a crawl lands; it wants each arriving
micro-batch matched against everything already ingested. This module
composes the two existing patterns the batch side already ships:

  * dedup_incremental's digest anti-join (operators/llm.py) — new docs
    are the ones whose content hash is absent from the accumulated
    hash store, so exact duplicates of anything already seen never
    enter LSH;
  * dedup_near's signature stage (operators/llm.py shingles_of /
    band_signatures) — surviving docs get 4x2 MinHash band signatures
    that are matched against the accumulated signature store on
    (band, m0, m1) bucket keys, then verified with exact Jaccard over
    the accumulated shingle store.

State (foreachBatch-maintained, localCheckpoint-cut per batch so plan
lineage stays depth-1 exactly like dedup_clusters' loop):
  hashes    one 32-byte digest per distinct content seen   — O(#docs)
  sigs      4 narrow int rows per representative doc        — O(#docs)
  shingles  60-bit ints per representative doc              — the one
            store proportional to corpus token count; at 100 TB this
            lives in a parquet/Delta table keyed by doc_id, exactly
            like dedup_incremental's reference corpus, and each batch
            touches only candidate docs' rows.
All shuffle keys are digests/ints; document text never outlives its
own micro-batch.

Cap semantics (documented relaxation vs batch): the MAX_BUCKET_DOCS
guard is evaluated against the ACCUMULATED bucket occupancy at each
batch — a bucket that overflows stops generating new candidates but
past emissions are not retracted (streaming state is monotone; batch
dedup_near, seeing final occupancy, would drop the whole bucket). On
corpora whose buckets stay within the cap the final pair set is
EXACTLY batch dedup_near's jaccard >= {STREAM_NEARDUP_MIN_JACCARD}
set — pinned by tests/test_streaming.py batch-parity over a
multi-file, multi-batch split of the documents fixture.

Rows-only registration: the accumulating foreachBatch loop is not
single-statement SQL; batch dedup_near carries the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pairs import capped, jaccard, set_overlap
from ..operators.llm import MAX_BUCKET_DOCS, band_signatures, shingles_of
from ..registry import query
from ..sources.snapshots import (
    _commit,
    _version_dir,
    snapshot_versions,
    vacuum_snapshots,
)
from ..tables import SCHEMAS, load_table
from .liveness import _run_to_memory, batch_fold_partitions, stream_clone

STREAM_NEARDUP_MIN_JACCARD = 0.5  # same cut as dedup_clusters' edges

_BUCKET_KEY = ["k", "m0", "m1"]


_STORE_SCHEMAS = {
    "hashes": "th string",
    "sigs": "doc_id long, k int, m0 long, m1 long",
    "shingles": "doc_id long, h long",
    "pairs": "doc_a long, doc_b long, jaccard double, batch_id long",
}


def load_neardup_store(
    spark: SparkSession, path: str | None
) -> tuple[dict[str, DataFrame], int]:
    """The latest published version of the store at `path` and its
    number, or typed empties and 0 when no version is published (or no
    path is given). The store is a snapshot table (sources/snapshots.py)
    whose every version holds all four state tables, so a load never
    sees a half-written store and a crashed write's hidden stage is
    invisible. A version that cannot be read raises (review r8: reading
    a transient failure as "fresh" silently reset the dedup history).
    At 100 TB the shingle store would be written bucketed on doc_id
    (sources/bucketing.py) so the per-batch candidate joins co-locate;
    plain parquet keeps the test-scale round-trip dependency-free
    while the layout stays the same."""
    versions = snapshot_versions(spark, path) if path else []
    if not versions:
        empty = {n: spark.createDataFrame([], s) for n, s in _STORE_SCHEMAS.items()}
        return empty, 0
    root = _version_dir(path, versions[-1])
    store = {}
    for name, schema in _STORE_SCHEMAS.items():
        store[name] = spark.read.schema(schema).parquet(f"{root}/{name}")
        store[name].first()  # surface read errors now, not mid-batch
    return store, versions[-1]


def write_neardup_store(
    store: dict[str, DataFrame], path: str, loaded: int
) -> int:
    """Commit the four state tables as version ``loaded + 1`` of the
    store at `path`, where ``loaded`` is the version they were derived
    from (0 for none), and return that version. All four tables are
    staged and published together by one verified rename
    (snapshots._commit), so a crash leaves the previous version serving
    and a version never holds 'hashes' without its 'sigs'/'shingles'
    (review r8: a doc marked seen whose signatures are gone can never
    match a future near-duplicate). If another writer already published
    ``loaded + 1`` the commit raises IOError and publishes nothing, so
    its state is never shadowed. Superseded versions are then vacuumed.
    Safe to call after a drain: every store frame has been
    localCheckpoint-materialized by the last micro-batch, so none
    still reads the version the vacuum deletes."""
    spark = next(iter(store.values())).sparkSession

    def stage_tables(stage: str) -> None:
        for name in _STORE_SCHEMAS:
            store[name].write.parquet(f"{stage}/{name}")

    version = _commit(spark, path, stage_tables, loaded + 1)
    vacuum_snapshots(spark, path, keep_last=1)
    return version


def neardup_stream_pairs(
    spark: SparkSession, docs: DataFrame, store_path: str | None = None
) -> DataFrame:
    """Drain a (doc_id, text) stream through the incremental LSH
    pipeline; returns the accumulated near-dup pairs
    (doc_a, doc_b, jaccard, batch_id) after the stream finishes.

    With store_path, state is LOADED from a prior delivery's store and
    WRITTEN back after the drain — so a nightly crawl ingest resumes
    against everything previously ingested instead of rescanning it
    (the restart pytest pins two-delivery == one-shot == batch)."""
    store, loaded = load_neardup_store(spark, store_path)
    # Fresh-store fast path (r16, guide §1 measured): on the FIRST
    # delivery (no published version) every state table is an empty
    # LocalRelation, and union-with-empty followed by localCheckpoint
    # re-materialized a full second copy of the just-checkpointed
    # sh_new/sigs_new/new frames — three redundant eager job waves per
    # batch 0 (the only batch the single-drain bench path ever runs).
    # Track emptiness per table and adopt the already-checkpointed new
    # frames directly; rows are identical (U with empty is identity),
    # and the multi-delivery pytests still exercise the union path on
    # every non-fresh batch.
    fresh = dict.fromkeys(store, loaded == 0)

    def process(batch: DataFrame, batch_id: int) -> None:
        hashed = batch.select(
            "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("th")
        )
        # Within-batch representative per content class, then the
        # incremental anti-join: only first-ever-seen content enters
        # LSH (= dedup_near's exact-dup prefilter, incrementalized).
        reps = hashed.groupBy("th").agg(F.min("doc_id").alias("doc_id"))
        new = reps.join(store["hashes"], "th", "left_anti").localCheckpoint(
            eager=True
        )
        new_docs = hashed.join(
            new.select("doc_id"), "doc_id", "left_semi"
        ).select("doc_id", "text")
        sh_new = shingles_of(new_docs).localCheckpoint(eager=True)
        sigs_new = band_signatures(sh_new).localCheckpoint(eager=True)
        # Fresh tables adopt the already-checkpointed new frames (the
        # select is a lazy projection over checkpoint blocks — no
        # recompute); non-fresh tables pay the union + re-checkpoint.
        if fresh["hashes"]:
            store["hashes"] = new.select("th")
        else:
            store["hashes"] = (
                store["hashes"]
                .unionByName(new.select("th"))
                .localCheckpoint(eager=True)
            )
        if fresh["shingles"]:
            store["shingles"] = sh_new
        else:
            store["shingles"] = (
                store["shingles"]
                .unionByName(sh_new)
                .localCheckpoint(eager=True)
            )
        if fresh["sigs"]:
            all_sigs = sigs_new
        else:
            all_sigs = (
                store["sigs"]
                .unionByName(sigs_new)
                .localCheckpoint(eager=True)
            )
        store["sigs"] = all_sigs
        for name in ("hashes", "shingles", "sigs"):
            fresh[name] = False
        # Bucket cap on ACCUMULATED occupancy (see module docstring).
        capped_all = capped(all_sigs, _BUCKET_KEY, MAX_BUCKET_DOCS)
        capped_new = capped_all.join(sigs_new, sigs_new.columns, "left_semi")
        # New-vs-all candidates only: a pair of two already-ingested
        # docs was matched when its second member arrived, so each
        # pair is generated in exactly one batch (no re-emission).
        cand = (
            capped_new.select(F.col("doc_id").alias("na"), *_BUCKET_KEY)
            .join(
                capped_all.select(F.col("doc_id").alias("nb"), *_BUCKET_KEY),
                _BUCKET_KEY,
            )
            .where(F.col("na") != F.col("nb"))
            .select(
                F.least("na", "nb").alias("doc_a"),
                F.greatest("na", "nb").alias("doc_b"),
            )
            .distinct()
        )
        # Exact Jaccard over the accumulated shingle store, candidate
        # pairs only — identical math to batch dedup_near.
        pairs_new = (
            set_overlap(cand, store["shingles"], "h")
            .select("doc_a", "doc_b", jaccard())
            .where(F.col("jaccard") >= STREAM_NEARDUP_MIN_JACCARD)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        if fresh["pairs"]:
            store["pairs"] = pairs_new.localCheckpoint(eager=True)
            fresh["pairs"] = False
        else:
            store["pairs"] = (
                store["pairs"]
                .unionByName(pairs_new)
                .localCheckpoint(eager=True)
            )

    n_batches = {"n": 0}
    orig_process = process

    def process_counting(batch: DataFrame, batch_id: int) -> None:
        orig_process(batch, batch_id)
        n_batches["n"] += 1

    # State-partition sizing comes from the stream_clone() session the
    # registry entry builds on (liveness.py rationale) — no
    # mutate-and-restore here: that pattern on a shared session was
    # exactly the race stream_clone removed (review r8). A direct
    # caller that wants the stream width passes a clone.
    q = (
        docs.writeStream.foreachBatch(process_counting)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if store_path and n_batches["n"] > 0:
        # a drain with no batches changed nothing, so it commits nothing
        write_neardup_store(store, store_path, loaded)
    return store["pairs"]


def _stream_dedup_near_oracle() -> str:
    from ..operators.llm import DEDUP_NEAR_ORACLE

    return f"""
SELECT doc_a, doc_b, jaccard FROM ({DEDUP_NEAR_ORACLE})
WHERE jaccard >= {STREAM_NEARDUP_MIN_JACCARD}
"""


@query("stream_dedup_near", oracle=_stream_dedup_near_oracle())
def stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection over the documents fixture as a stream (the
    crawl-ingest form of dedup_near; see module docstring).
    ORACLE-EXACT since r9: the accumulated pair set equals batch
    dedup_near's jaccard >= {STREAM_NEARDUP_MIN_JACCARD} set whenever
    bucket occupancies stay within the cap (the module docstring's
    documented relaxation never engages on the fixtures — and the
    sweep at both SFs now PROVES it rather than assuming it); the
    registry emission drops the stream-housekeeping batch_id column
    (which micro-batch found the pair — meaningful to the multi-batch
    parity pytests, not to the dedup verdict). The multi-batch and
    persisted-store pytests still pin the cross-batch semantics the
    single-drain oracle can't see."""
    # heavy-fold drain: batch-plan width, not state width (liveness.py)
    spark = stream_clone(spark, batch_fold_partitions(spark))
    docs = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    return neardup_stream_pairs(spark, docs).select(
        "doc_a", "doc_b", "jaccard"
    )


# --- stream_decontaminate: live ingest hygiene vs the static eval set -----

def _decon_oracle() -> str:
    from ..operators.pipeline import DECONTAMINATE_ORACLE

    return DECONTAMINATE_ORACLE


@query("stream_decontaminate", oracle=_decon_oracle())
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination as a LIVE ingest check: documents
    stream in, each arriving train-split doc's word {DECON_N}-grams
    (computed IN-ROW — split, slice, md5, array_distinct; the doc's
    text never outlives its projection) are matched against the
    STATIC held-out eval gram set via a stream-static join, and the
    per-doc running (n_grams, n_shared) aggregate yields exactly the
    batch `decontaminate` report: same oracle, sweep-exact. This is
    the shape a crawl pipeline actually wants — flag contamination AT
    ingest instead of re-scanning the corpus after the fact.

    Scale: the eval set is ~5 % of the corpus as two-bigint gram keys
    (the md5-split birthday-safe form decontaminate documents); grams
    shuffle only to the per-doc aggregate, whose state is one row per
    IN-FLIGHT contaminated-or-not doc — emitted on drain, bounded by
    the micro-batch horizon in production (a doc's verdict is final
    the moment its own grams are counted; no cross-doc state). The
    static side is a broadcastable distinct-gram frame rebuilt only
    when the eval suite changes."""
    from ..operators.pipeline import DECON_N, SPLIT_BOUNDS

    # heavy-fold drain: batch-plan width, not state width (liveness.py)
    spark = stream_clone(spark, batch_fold_partitions(spark))
    d = load_table(spark, sf_dir, "documents")
    b_static = F.substring(
        F.md5(F.format_string("split|%d", F.col("doc_id"))), 1, 2
    )
    # Static eval side: distinct test-split grams as two 60-bit ints.
    w_s = F.split("text", " ")
    i_s = F.explode(
        F.sequence(F.lit(1), F.size(w_s) - (DECON_N - 1))
    ).alias("i")
    g_txt_s = F.md5(
        F.array_join(F.slice(w_s, F.col("i"), DECON_N), " ")
    )
    test_grams = (
        d.where(b_static >= SPLIT_BOUNDS[1])
        .where(F.size(w_s) >= DECON_N)
        .select("doc_id", "text", i_s)
        .select(
            F.conv(F.substring(g_txt_s, 1, 15), 16, 10)
            .cast("bigint")
            .alias("g_lo"),
            F.conv(F.substring(g_txt_s, 16, 15), 16, 10)
            .cast("bigint")
            .alias("g_hi"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
        .localCheckpoint(eager=True)
    )

    import os as _os

    # The fixture ships documents.parquet as a single FILE (streamed
    # via pathGlobFilter over sf_dir — a streaming source's path must
    # be a directory), but a multi-part DIRECTORY of the same name —
    # the shape a real ingest lands — must stream identically (pytest
    # pins the 3-part split).
    tbl = _os.path.join(sf_dir, "documents.parquet")
    rs = spark.readStream.schema(SCHEMAS["documents"])
    if _os.path.isdir(tbl):
        arrivals = rs.parquet(tbl)
    else:
        arrivals = rs.option(
            "pathGlobFilter", "documents.parquet"
        ).parquet(sf_dir)
    b = F.substring(
        F.md5(F.format_string("split|%d", F.col("doc_id"))), 1, 2
    )
    w = F.split("text", " ")
    grams_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (DECON_N - 1)),
            lambda i: F.md5(F.array_join(F.slice(w, i, DECON_N), " ")),
        )
    )
    train = (
        arrivals.where(b < SPLIT_BOUNDS[0])
        .where(F.size(w) >= DECON_N)
        .select("doc_id", F.explode(grams_arr).alias("g"))
        .select(
            "doc_id",
            F.conv(F.substring("g", 1, 15), 16, 10)
            .cast("bigint")
            .alias("g_lo"),
            F.conv(F.substring("g", 16, 15), 16, 10)
            .cast("bigint")
            .alias("g_hi"),
        )
    )
    joined = train.join(
        F.broadcast(test_grams), ["g_lo", "g_hi"], "left"
    )
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_shared"),
    )
    out = _run_to_memory(agg, "complete")
    return out.where(F.col("n_shared") > 0).select(
        "doc_id",
        "n_grams",
        "n_shared",
        (
            F.col("n_shared").cast("double") / F.col("n_grams")
        ).alias("contamination"),
    )
