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
) -> dict[str, DataFrame]:
    """Load a persisted near-dup store (or fresh empties): one parquet
    directory per state table. Only a MISSING table reads as "fresh"
    (review r8: the old catch-everything branch turned a transient
    read failure — permissions, partial previous write — into a silent
    reset of the whole dedup history, which the end-of-drain write
    then made permanent); any other error propagates to the caller.
    At 100 TB the shingle store would be written bucketed on doc_id
    (sources/bucketing.py) so the per-batch candidate joins co-locate;
    plain parquet keeps the test-scale round-trip dependency-free
    while the layout stays the same."""
    from ..sources.snapshots import _fs

    if path is not None:
        _recover_orphan_store(spark, path)
    store = {}
    for name, schema in _STORE_SCHEMAS.items():
        sub = f"{path}/{name}" if path else None
        if sub is None:
            store[name] = spark.createDataFrame([], schema)
            continue
        fs, p, _ = _fs(spark, sub)
        if not fs.exists(p):
            store[name] = spark.createDataFrame([], schema)
            continue
        store[name] = spark.read.schema(schema).parquet(sub)
        store[name].first()  # surface read errors now, not mid-batch
    return store


def _recover_orphan_store(spark: SparkSession, path: str) -> None:
    """Guard the stage-and-swap crash window at LOAD time (ADVICE r8):
    a crash between write_neardup_store's two renames leaves the live
    store MISSING while the entire previous state sits at
    ``<path>.old-<tag>`` — and the old load path would silently treat
    that as a fresh store, permanently resetting the dedup history the
    moment the next drain writes. Detect the orphan and ROLL BACK:
    rename the single ``.old-*`` sibling into place (completing the
    interrupted swap in the safe direction — the staging data was never
    published, so the pre-swap state is the last consistent one).
    Multiple ``.old-*`` siblings mean two interleaved writers crashed;
    no automatic choice is safe, so raise for the operator. Orphan
    ``.staging-*`` siblings with the store missing and no ``.old-*``
    mean the crash happened before the first rename of a FIRST-ever
    write — the prior state was empty, so a fresh store is correct
    (and a live concurrent first write looks identical; raising would
    break it)."""
    from ..sources.snapshots import _fs

    fs, p, jvm = _fs(spark, path)
    if fs.exists(p):
        return
    jpath = jvm.org.apache.hadoop.fs.Path
    parent = p.getParent()
    if parent is None or not fs.exists(parent):
        return
    base = p.getName()
    olds = []
    for st in fs.listStatus(parent):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{base}.old-"):
            olds.append(name)
    if not olds:
        return
    if len(olds) > 1:
        raise IOError(
            f"neardup store {path} is missing but multiple crash "
            f"leftovers exist: {sorted(olds)} — interleaved writers; "
            "recover the correct .old-* directory manually"
        )
    old = f"{path}.old-{olds[0].split('.old-', 1)[1]}"
    if not fs.rename(jpath(old), p):
        raise IOError(
            f"neardup store {path} is missing; rollback rename of "
            f"crash leftover {old} failed"
        )


def _stage_tables(
    store: dict[str, DataFrame], staging: str, tag: str
) -> None:
    """Write all four state tables plus this write's IDENTITY TOKEN
    (``_swap-<tag>``, an empty file at the staging root) to the staging
    sibling. The token is what makes the post-swap verification
    race-proof (ADVICE r9): checking only for a 'hashes' child cannot
    distinguish OUR staging dir from a DIFFERENT store that landed at
    the live path while we were mid-swap."""
    from ..sources.snapshots import _fs

    spark = next(iter(store.values())).sparkSession
    for name in _STORE_SCHEMAS:
        store[name].write.mode("overwrite").parquet(f"{staging}/{name}")
    fs, _, jvm = _fs(spark, staging)
    jpath = jvm.org.apache.hadoop.fs.Path
    fs.create(jpath(f"{staging}/_swap-{tag}")).close()


def _swap_tokens(fs, jvm, path: str) -> tuple:
    """Sorted tuple of ``_swap-*`` identity-token names directly under
    ``path`` (empty if the path is missing). Every store published by
    this machinery carries exactly one; the tuple is the store's
    identity fingerprint across renames."""
    jpath = jvm.org.apache.hadoop.fs.Path
    p = jpath(path)
    if not fs.exists(p):
        return ()
    names = [st.getPath().getName() for st in fs.listStatus(p)]
    return tuple(sorted(n for n in names if n.startswith("_swap-")))


def _swap_begin(spark: SparkSession, path: str, tag: str) -> tuple:
    """First half of the swap: rename the live store out of the way
    (verified — Hadoop rename returns false instead of throwing on
    several failure shapes). Returns ``(old_path, prev_tokens)`` where
    ``prev_tokens`` is the live store's identity-token fingerprint
    captured immediately before the rename — _swap_finish uses it to
    prove that a re-created live path really is OUR rolled-back
    previous state and not another writer's committed store (ADVICE
    r11: with the .old name consumed by a reader rollback, the two
    worlds are otherwise indistinguishable, and re-asiding the wrong
    one ends in fs.delete destroying committed data)."""
    from ..sources.snapshots import _fs

    fs, p, jvm = _fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path
    old = f"{path}.old-{tag}"
    prev_tokens = _swap_tokens(fs, jvm, path)
    if fs.exists(p) and not fs.rename(p, jpath(old)):
        raise IOError(
            f"neardup store swap: rename {path} -> {old} failed "
            "(leftover .old dir or concurrent drain?) — state not "
            f"updated; staging left at {path}.staging-{tag}"
        )
    return old, prev_tokens


# Bound on reader-rollback ping-pong rounds in _swap_finish. Each
# retry is only needed when a reader's _recover_orphan_store fires
# inside the microsecond rename window, and every rollback CONSUMES
# the .old name (the reader renames it to live), so sustained
# ping-pong requires a fresh reader load landing in every successive
# window — vanishingly unlikely; 5 rounds is already generous.
_SWAP_RETRIES = 5


def _swap_finish(
    spark: SparkSession,
    path: str,
    tag: str,
    old: str,
    prev_tokens: tuple = (),
) -> None:
    """Second half of the swap: publish staging at the live path and
    verify THIS WRITE'S identity landed there — retrying until the
    publish sticks (VERDICT r10 #5: prevention, not just detection).

    The race: between our two renames, a reader's
    _recover_orphan_store (or a concurrent writer) re-creates the live
    path, so our rename(staging -> path) NESTS staging one level
    inside that store while still returning true. A bare 'does
    path/hashes exist' check passes in that world — the restored store
    has a hashes table of its own — which is exactly how the drain's
    state update used to be lost. The ``_swap-<tag>`` token is unique
    to this write, so finding it directly under the live path proves
    OUR staging is what is being served.

    Since r11 the token check is the CONVERGENCE predicate of a retry
    loop rather than a terminal error: when the token is missing but
    our staging sits nested under the live path (the reader-rollback
    signature), we un-nest it back to the staging sibling, move the
    re-created live store aside (the rollback consumed the .old name,
    so the same name is free again — at most one .old-<tag> ever
    exists), and publish again. Each reader load rolls back at most
    once, so the loop converges; _SWAP_RETRIES bounds the pathological
    case and the loud IOError remains as the backstop. A missing token
    WITHOUT our nested staging still raises immediately — that live
    store is some OTHER writer's data and no automatic choice is safe.

    The re-aside itself is gated on ``prev_tokens`` (ADVICE r11): the
    re-created live store must carry exactly the identity tokens the
    previous live store carried at _swap_begin. A concurrent writer
    that completed a FULL begin/publish cycle after a reader rollback
    consumed our .old leaves the live path with its own fresh token
    and our .old absent — without the fingerprint check that world is
    indistinguishable from a bare rollback, and re-asiding it would
    end with fs.delete(old) destroying that writer's committed data."""
    from ..sources.snapshots import _fs

    staging = f"{path}.staging-{tag}"
    fs, p, jvm = _fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path
    nested = f"{path}/{staging.rsplit('/', 1)[-1]}"
    published = False
    for _attempt in range(_SWAP_RETRIES):
        if fs.exists(p):
            # A reader rollback re-created the live path from .old
            # between our renames (or between retry rounds). Its
            # rollback consumed the .old name, so renaming the
            # restored store back aside under the SAME name is safe
            # and keeps the single-.old invariant the reader relies
            # on. If .old STILL exists alongside a re-created live
            # path, the live store cannot be our rolled-back state —
            # it is another writer's — and re-asiding it would nest it
            # under .old and later delete it: raise instead, keeping
            # both states on disk for the operator.
            if fs.exists(jpath(old)):
                raise IOError(
                    f"neardup store swap: {path} was re-created while "
                    f"{old} still exists — a concurrent writer, not a "
                    "reader rollback; manual recovery needed (staging "
                    f"preserved at {staging})"
                )
            # .old absent alone does NOT prove a reader rollback: a
            # concurrent writer whose full begin/publish cycle ran
            # after the rollback consumed our .old leaves the same
            # shape (ADVICE r11). Demand the live store carry EXACTLY
            # the identity tokens captured at _swap_begin — only our
            # rolled-back previous state can — before re-asiding it
            # into a name the final fs.delete will destroy.
            live_tokens = _swap_tokens(fs, jvm, path)
            if not prev_tokens or live_tokens != prev_tokens:
                raise IOError(
                    f"neardup store swap: {path} was re-created with "
                    f"identity tokens {list(live_tokens)} != the "
                    f"pre-swap fingerprint {list(prev_tokens)} — a "
                    "concurrent writer's committed store, not our "
                    "reader-rolled-back state; manual recovery needed "
                    f"(staging preserved at {staging})"
                )
            if not fs.rename(p, jpath(old)):
                raise IOError(
                    f"neardup store swap: re-aside rename {path} -> "
                    f"{old} failed mid-retry — staging preserved at "
                    f"{staging}; state not updated"
                )
        if not fs.rename(jpath(staging), p):
            raise IOError(
                f"neardup store swap: rename {staging} -> {path} failed — "
                f"previous state preserved at {old}"
            )
        if fs.exists(jpath(f"{path}/_swap-{tag}")):
            published = True
            break
        if fs.exists(jpath(nested)):
            # Reader-rollback signature: the live path was re-created
            # after our exists() check and the publish rename nested
            # staging inside it. Un-nest and go around again.
            if not fs.rename(jpath(nested), jpath(staging)):
                raise IOError(
                    f"neardup store swap: un-nest rename {nested} -> "
                    f"{staging} failed — manual recovery needed"
                )
            continue
        raise IOError(
            f"neardup store swap: {path} exists but carries neither this "
            f"write's identity token _swap-{tag} nor its nested staging "
            "dir — a DIFFERENT writer's store landed at the live path "
            "mid-swap; the drain's state update was NOT published "
            f"(staging consumed; previous state at {old})"
        )
    if not published:
        raise IOError(
            f"neardup store swap: publish did not converge after "
            f"{_SWAP_RETRIES} rounds of reader-rollback ping-pong — "
            f"staging preserved at {staging}, previous state at {old}"
        )
    if fs.exists(jpath(nested)):
        raise IOError(
            f"neardup store swap: {path} contains a nested staging dir "
            f"{nested} — two writers interleaved; manual recovery needed"
        )
    if not fs.exists(jpath(f"{path}/hashes")):
        raise IOError(
            f"neardup store swap: {path} exists but holds no 'hashes' "
            "table after the swap — staging incomplete; state update lost"
        )
    if fs.exists(jpath(old)):
        fs.delete(jpath(old), True)


def write_neardup_store(store: dict[str, DataFrame], path: str) -> None:
    """Persist the accumulated state tables with a STAGE-AND-SWAP so a
    crash can never leave the four tables internally inconsistent
    (review r8: sequential in-place overwrites could persist 'hashes'
    without 'sigs'/'shingles' — a doc marked seen whose signatures are
    gone can never match a future near-duplicate). All four tables are
    written to a staging sibling first; the live store is then swapped
    in two renames. The crash window is between the two renames and
    yields a MISSING store whose previous state survives at
    <path>.old-*; load_neardup_store detects that shape and ROLLS the
    .old dir back into place (ADVICE r8 — never a silent fresh start,
    never a half-updated store). The post-swap check verifies this
    write's own staging IDENTITY landed at the live path (ADVICE r9 —
    see _swap_finish for the reader-rollback race it closes). Safe to
    call after a drain: every store frame has been
    localCheckpoint-materialized by the last micro-batch, so the
    staging write never reads its own output."""
    import uuid as _uuid

    spark = next(iter(store.values())).sparkSession
    tag = _uuid.uuid4().hex[:8]
    _stage_tables(store, f"{path}.staging-{tag}", tag)
    old, prev_tokens = _swap_begin(spark, path, tag)
    _swap_finish(spark, path, tag, old, prev_tokens)


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
    store: dict[str, DataFrame] = load_neardup_store(spark, store_path)
    # Fresh-store fast path (r16, guide §1 measured): on the FIRST
    # delivery every state table is an empty LocalRelation, and
    # union-with-empty followed by localCheckpoint re-materialized a
    # full second copy of the just-checkpointed sh_new/sigs_new/new
    # frames — three redundant eager job waves per batch 0 (the only
    # batch the single-drain bench path ever runs). Track emptiness
    # per table and adopt the already-checkpointed new frames
    # directly; rows are identical (U with empty is identity), and the
    # multi-delivery pytests still exercise the union path on every
    # non-fresh batch.
    fresh = {name: store_path is None for name in store}
    if store_path is not None:
        from ..sources.snapshots import _fs

        for name in store:
            fs, p, _ = _fs(spark, f"{store_path}/{name}")
            fresh[name] = not fs.exists(p)

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
        # no-batch drains skip the write: the store frames would still
        # be lazy readers of the very parquet the overwrite truncates
        write_neardup_store(store, store_path)
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
