"""Versioned snapshot tables (time travel) on plain parquet.

The reference's publish step replaces a file's chunk list atomically
under a lock (controller/FileTable.java's synchronized publish);
lakehouse formats generalize that to versioned table snapshots. This
module provides the same contract with nothing but parquet and one
atomic filesystem rename per commit — no table-format dependency:

  * every commit writes a version under ``<table>/v=NNNNNNNN/`` (a
    full snapshot, or an incremental one: see below), staged in a
    hidden temp dir and RENAMED into place (rename is the
    atomic primitive on HDFS-compatible stores and POSIX alike), so a
    reader can never observe a half-written version. A version may hold
    several tables, one subdirectory each (the near-dup stream store,
    streaming/neardup.py); they publish together in that one rename;
  * the current version is simply the highest published directory —
    no pointer file to corrupt. Hadoop's ``FileSystem.rename`` is NOT
    a CAS when the destination directory exists (it moves the source
    INTO it and reports success), so the publish is a *verified* CAS:
    each committer stages under a uuid-unique dir carrying a unique
    commit-marker file, renames, then checks the marker sits directly
    under the final path. A loser finds its whole stage dir nested
    inside the winner's version, pulls it back out, and retries with
    the next number — no commit is ever silently dropped;
  * an EXPECTED-VERSION commit publishes as exactly the number after
    the version its writer read, or raises and publishes nothing, so a
    read-modify-write never shadows a concurrent writer's commit;
  * readers pin a version (time travel) or take the latest; a reader
    holding version N is unaffected by later commits or by vacuum of
    OTHER versions (immutable snapshot isolation).

A version need not be a full copy. An INCREMENTAL table (the IVF
store, operators/ann.py; commit_increment / read_manifest) writes into
version N only the files mutation N added, plus a ``_manifest.json``
naming every live directory of the table across versions; the
manifest is the version's content, so it publishes in the same rename
as the new files. After the publish, whatever older versions hold
beyond the named directories is deleted, found on disk, so what a
crash before that step left goes at the next commit. An incremental
table therefore serves its latest version only (no pinning).
Small text files such as the manifest and the commit marker go through
the Hadoop FileSystem on the driver (``_write_text``/``_read_text``),
never through a Spark job.

Scale: a commit's cost is the snapshot write itself (parallel across
executors); version discovery is one driver-side directory listing of
O(#versions) names — the same metadata cost any table format pays.
For mostly-unchanged data, pair with ``upsert_parquet_partitioned``
(partition-scoped rewrites) and snapshot the partition directories
instead, or keep an incremental manifest as above.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession

_WIDTH = 8  # zero-padded version directory suffix


_HANDLES: dict = {}  # (SparkContext, scheme, authority) -> (FileSystem, Path)


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path(path), the Path class) for `path`. The class
    and each filesystem are looked up once per SparkContext: through
    Py4J a class lookup alone takes ~2 ms."""
    sc = spark.sparkContext
    key = (sc, *urlsplit(path)[:2])
    if key not in _HANDLES:
        jpath = sc._jvm.org.apache.hadoop.fs.Path
        _HANDLES[key] = jpath(path).getFileSystem(sc._jsc.hadoopConfiguration()), jpath
    fs, jpath = _HANDLES[key]
    return fs, jpath(path), jpath


def _version_name(v: int) -> str:
    return f"v={v:0{_WIDTH}d}"


def _version_dir(table_path: str, v: int) -> str:
    return f"{table_path}/{_version_name(v)}"


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p, _ = _fs(spark, path)
    out = fs.create(p)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, p, _ = _fs(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def subdirs(spark: SparkSession, path: str) -> list[str]:
    """The names of `path`'s subdirectories; [] if it does not exist.
    One driver-side listing through the Hadoop FileSystem."""
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()]


def snapshot_versions(spark: SparkSession, table_path: str) -> list[int]:
    """Published versions, ascending. Hidden staging dirs are invisible
    (dot-prefixed names are filtered, and Spark ignores them anyway)."""
    names = subdirs(spark, table_path)
    return sorted(int(n[2:]) for n in names if n[:2] == "v=" and n[2:].isdigit())


def _publish_stage(
    spark: SparkSession, table_path: str, token: str, version: int | None = None
) -> int:
    """The verified-CAS loop: rename ``<table>/.stage-<token>`` (which
    must already contain its ``_commit-<token>`` marker) onto a version
    number until the marker is observed directly under the final path.
    Shared by recover_stranded_stages and, through _commit, by
    write_snapshot and the near-dup stream store.

    ``version=None`` takes the next free number, retrying past any
    committer that wins it. An int is an EXPECTED-VERSION commit: the
    stage publishes as exactly that number or not at all — if it is
    taken or passed, the stage is deleted and IOError raised, because
    the staged state was derived from an older version and publishing
    it under a later number would shadow the winner's commit. An
    incremental table prunes versions below its latest, so a rename
    can still land on a passed number: the versions are listed again
    after it, and a newer one raises IOError before the caller prunes
    (the stale version stays below it and is pruned by later commits).
    A rename that fails (returns false or throws) while the
    stage stays put and the version stays absent — permissions, quota —
    raises IOError naming the stage: retrying cannot change that
    outcome.

    CRASH WINDOW (ADVICE r7): if this process dies after losing a race
    (its stage renamed INTO the winner's version) but before the
    pull-back rename below, the stage dir is stranded NESTED inside a
    published version — dot-prefixed, so invisible to readers and to
    snapshot_versions. The commit is not silently lost forever, but it
    needs recover_stranded_stages() to surface/republish it; vacuum
    also reports such dirs instead of deleting them blind."""
    fs, root, jpath = _fs(spark, table_path)
    stage = f"{table_path}/.stage-{token}"
    marker = f"_commit-{token}"
    fs.mkdirs(root)  # rename needs an existing destination parent
    while True:
        if not fs.exists(jpath(stage)):
            # The stage is gone (checked BEFORE renaming: local-FS
            # rename THROWS on a missing source rather than returning
            # false). If a janitor ADOPTED it (the committer stalled
            # past min_age and recover_stranded_stages republished on
            # its behalf), the commit actually LANDED — find our
            # marker under a published version and report that version
            # instead of an error, or the caller would retry
            # write_snapshot and commit the same data twice (review r8).
            for pv in snapshot_versions(spark, table_path):
                if fs.exists(jpath(f"{_version_dir(table_path, pv)}/{marker}")):
                    return pv
            # Not yet published — but maybe not deleted either
            # (ADVICE r8): a janitor that ADOPTED this stage can
            # itself lose a publish race, leaving the stage
            # momentarily NESTED inside another committer's version
            # awaiting pull-back. Raising here would make the caller
            # retry write_snapshot and double-commit once the
            # janitor's republish lands. We own the token, so pull
            # the nested stage back to the root ourselves (the same
            # recovery the race loser below performs) and keep
            # driving the CAS; a failed pull-back means the janitor
            # moved it concurrently — re-enter the loop and re-look.
            nested = [
                s["path"]
                for s in find_stranded_stages(spark, table_path)
                if s["token"] == token and s["nested_in"] is not None
            ]
            if nested:
                fs.rename(jpath(nested[0]), jpath(stage))
                continue
            raise IOError(
                f"snapshot commit: stage dir {stage} disappeared "
                "mid-publish and its marker is under no published "
                "version nor any nested stage — the stage was "
                "deleted, not adopted"
            )
        vs = snapshot_versions(spark, table_path)
        v = (vs[-1] if vs else 0) + 1 if version is None else version
        final = _version_dir(table_path, v)
        # an incremental table deletes superseded versions, so "taken"
        # means reached: any published version >= v
        if fs.exists(jpath(final)) or (vs and vs[-1] >= v):
            if version is None:
                continue  # published between listing and here; re-list
            fs.delete(jpath(stage), True)
            raise IOError(
                f"snapshot commit: version {v} of {table_path} is already "
                f"reached; expected-version stage {stage} dropped"
            )
        try:
            renamed, err = fs.rename(jpath(stage), jpath(final)), None
        except Exception as e:  # noqa: BLE001 — e.g. source vanished in the race
            renamed, err = False, e
        if renamed and fs.exists(jpath(f"{final}/{marker}")):
            # marker directly under final ⇒ we own this version; but an
            # expected version may have landed on a number that a newer
            # commit reached and then pruned away
            if version is not None and snapshot_versions(spark, table_path)[-1] > v:
                raise IOError(
                    f"snapshot commit: version {v} of {table_path} was "
                    "already passed; the stale version is left below the "
                    "newer one, for its prune"
                )
            return v
        if renamed:
            # Lost: rename moved the stage dir INTO the winner's
            # version. Pull it back out, intact, and retry.
            nested = f"{final}/.stage-{token}"
            if not fs.rename(jpath(nested), jpath(stage)):
                raise IOError(
                    f"snapshot commit race: could not recover stage "
                    f"dir from {nested}"
                )
        elif fs.exists(jpath(stage)) and not fs.exists(jpath(final)):
            raise IOError(
                f"snapshot commit: renaming stage {stage} onto {final} "
                "failed and changed neither; the stage is kept"
            ) from err
        # Otherwise the stage vanished (a janitor adopted it) or the
        # version appeared (a rename that fails on an existing dst):
        # the loop re-checks both.


def _commit(
    spark: SparkSession,
    table_path: str,
    write_stage: Callable[[str], object],
    version: int | None = None,
) -> int | None:
    """Stage one version through ``write_stage(stage_dir)``, add its
    commit marker (written last, so a marker proves the data complete)
    and publish it with _publish_stage; return the version number. The
    marker holds the expected version (empty for "next free"), so
    recover_stranded_stages never publishes the stage under another
    number. A ``write_stage`` that returns False had nothing to commit:
    its stage is deleted and None returned."""
    token = uuid.uuid4().hex
    stage = f"{table_path}/.stage-{token}"
    if write_stage(stage) is False:
        fs, _, jpath = _fs(spark, table_path)
        fs.delete(jpath(stage), True)
        return None
    _write_text(spark, f"{stage}/_commit-{token}", str(version or ""))
    return _publish_stage(spark, table_path, token, version)


def read_manifest(spark: SparkSession, table_path: str) -> tuple[dict, int]:
    """An incremental table's latest manifest and its version; ({}, 0)
    before the first publish."""
    vs = snapshot_versions(spark, table_path)
    if not vs:
        return {}, 0
    text = _read_text(spark, f"{_version_dir(table_path, vs[-1])}/_manifest.json")
    return json.loads(text), vs[-1]


def commit_increment(
    spark: SparkSession,
    table_path: str,
    version: int,
    write_stage: Callable[[str, str], dict | None],
) -> None:
    """Publish version + 1 of an incremental table, whose manifest was
    read at `version`. ``write_stage(stage, name)`` writes the new
    files into `stage` (they publish under ``<table>/<name>/``) and
    returns the next manifest, or None when nothing changed (then
    nothing is published). A manifest maps each part of the table
    to a map from keys to the table-relative directories live under
    them (the IVF store: {"data" | "tombs": {cid: [dir, ...]}}).
    Raises IOError if another writer published version + 1 first.
    After the publish, the directories of older versions that the
    manifest no longer names are deleted."""
    nxt: dict = {}

    def stage_files(stage: str) -> bool:
        man = write_stage(stage, _version_name(version + 1))
        if man is None:
            return False
        nxt.update(man)
        _write_text(spark, f"{stage}/_manifest.json", json.dumps(man))
        return True

    if _commit(spark, table_path, stage_files, version + 1) is not None:
        _prune_increments(spark, table_path, version, nxt)


def _prune_increments(
    spark: SparkSession, table_path: str, version: int, man: dict
) -> None:
    """Delete what versions <= `version` hold beyond the directories
    manifest `man` names: a version holding none of them goes whole;
    the others lose every directory that is neither named nor on the
    way to a named one (hidden stage dirs stay, for
    recover_stranded_stages). It reads the disk, not the previous
    manifest, so it also clears what a crash between an earlier publish
    and its prune left, or what a republished stage dropped. One
    directory count per version skips the listing when nothing is
    stale."""
    live = {d for part in man.values() for dirs in part.values() for d in dirs}
    keep = {d.rsplit("/", i)[0] for d in live for i in range(d.count("/") + 1)}
    fs, _, jpath = _fs(spark, table_path)

    def drop_stale(rel: str) -> None:
        for name in subdirs(spark, f"{table_path}/{rel}"):
            sub = f"{rel}/{name}"
            if sub not in keep and name[0] != ".":
                fs.delete(jpath(f"{table_path}/{sub}"), True)
            elif sub in keep and sub not in live:
                drop_stale(sub)

    for u in snapshot_versions(spark, table_path):
        if u > version:
            break
        rel, vdir = _version_name(u), jpath(_version_dir(table_path, u))
        held = sum(k.split("/", 1)[0] == rel for k in keep)
        if not held:
            fs.delete(vdir, True)
        elif fs.getContentSummary(vdir).getDirectoryCount() != held:
            drop_stale(rel)


def write_snapshot(spark: SparkSession, df: DataFrame, table_path: str) -> int:
    """Commit df as the next version; return its number.

    Verified-CAS publish: the snapshot is written ONCE to a
    uuid-unique stage dir containing a unique ``_commit-<token>``
    marker; each attempt renames the stage onto the next free version
    and then verifies the marker sits directly under that version
    path. ``FileSystem.rename`` onto an existing directory moves the
    stage INSIDE it and still returns true (observed on local FS; HDFS
    behaves the same), so the rename result alone proves nothing — the
    marker check is what decides the race. A loser recovers its intact
    stage dir from inside the winner's version and retries with the
    next number, so no LIVE concurrent commit is ever silently lost
    (for the crash window, see _publish_stage / recover_stranded_stages)."""
    return _commit(spark, table_path, df.write.mode("overwrite").parquet)


def find_stranded_stages(
    spark: SparkSession, table_path: str
) -> list[dict]:
    """Janitor scan (ADVICE r7 low): every ``.stage-<token>`` dir left
    behind by a crashed committer, with enough metadata to decide its
    fate. Two locations exist:

      * at the TABLE ROOT — the committer died before winning a rename
        (or right after a pull-back). ``complete`` iff its commit
        marker exists (the marker is created only after the parquet
        write finishes, so no marker ⇒ the snapshot data is partial);
      * NESTED inside a published version — the committer died inside
        the race-recovery window. Always complete (a stage only
        reaches a rename with its marker in place) and represents a
        fully-written commit that was never published.

    Returns [{"path", "token", "nested_in" (version or None),
    "complete", "mtime_ms"}], oldest first. mtime_ms is the NEWEST
    modification time anywhere in the stage TREE, not the stage dir's
    own mtime: a parquet write in progress keeps touching files deep
    under _temporary/ while the top dir's mtime stays at write start,
    and an age check on the top dir alone would misread a slow live
    write (> min_age) as a crashed stage and destroy it."""
    fs, p, jpath = _fs(spark, table_path)

    def tree_mtime(path: str, top_ms: int) -> int | None:
        """Newest mtime in the tree, or None if the tree vanished
        mid-listing (a concurrent committer renamed the stage onto a
        version, or a live parquet write committed a task and removed
        its _temporary dir) — a vanished stage is simply not stranded,
        and a half-listed one is ACTIVE, so the caller must skip it
        rather than crash vacuum/recovery (review r8; the lazy
        recursive iterator throws on paths deleted under it)."""
        newest = top_ms
        try:
            it = fs.listFiles(jpath(path), True)
            while it.hasNext():
                newest = max(newest, it.next().getModificationTime())
        except Exception:  # noqa: BLE001 — Py4J FileNotFound et al.
            return None
        return newest

    if not fs.exists(p):
        return []
    found: list[dict] = []

    def scan(dir_path: str, nested_in: int | None) -> None:
        for st in fs.listStatus(jpath(dir_path)):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(".stage-"):
                token = name[len(".stage-"):]
                full = f"{dir_path}/{name}"
                mt = tree_mtime(full, st.getModificationTime())
                if mt is None:
                    continue  # vanished/actively-moving: not stranded
                found.append(
                    {
                        "path": full,
                        "token": token,
                        "nested_in": nested_in,
                        "complete": fs.exists(
                            jpath(f"{full}/_commit-{token}")
                        ),
                        "mtime_ms": mt,
                    }
                )

    scan(table_path, None)
    for v in snapshot_versions(spark, table_path):
        scan(_version_dir(table_path, v), v)
    return sorted(found, key=lambda d: d["mtime_ms"])


def recover_stranded_stages(
    spark: SparkSession, table_path: str, min_age_ms: int = 3_600_000
) -> dict[str, int | None]:
    """Republish or discard crashed committers' stage dirs. Only stages
    older than ``min_age_ms`` (default 1 h) are touched — a younger one
    may belong to a committer that is still running its CAS loop.

    COMPLETE stages (marker present, whether nested or at the root) are
    pulled back to the table root and re-driven through the same
    verified-CAS publish, so the crashed commit finally lands as a real
    version — upholding "no commit is silently dropped" across process
    death. An EXPECTED-VERSION stage (its marker names the version) is
    published only as exactly that version, and deleted once the table
    has reached that version: its state was derived from the version
    before, and publishing it later would shadow the newer commit.
    INCOMPLETE root stages (no marker: the parquet write itself died)
    are deleted. Returns {stage_path: new_version | None (deleted)};
    untouched young stages are simply absent."""
    fs, _, jpath = _fs(spark, table_path)
    now_ms = spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
    out: dict[str, int | None] = {}
    for s in find_stranded_stages(spark, table_path):
        if now_ms - s["mtime_ms"] < min_age_ms:
            continue
        marker = f"{s['path']}/_commit-{s['token']}"
        expected = int(_read_text(spark, marker) or 0) if s["complete"] else 0
        latest = max(snapshot_versions(spark, table_path), default=0)
        if not s["complete"] or 0 < expected <= latest:
            fs.delete(jpath(s["path"]), True)
            out[s["path"]] = None
            continue
        root_stage = f"{table_path}/.stage-{s['token']}"
        if s["nested_in"] is not None and not fs.rename(
            jpath(s["path"]), jpath(root_stage)
        ):
            raise IOError(f"could not un-nest stranded stage {s['path']}")
        out[s["path"]] = _publish_stage(
            spark, table_path, s["token"], expected or None
        )
    return out


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """The table as of `version` (latest when None)."""
    vs = snapshot_versions(spark, table_path)
    version = vs[-1] if version is None and vs else version
    if version not in vs:
        raise FileNotFoundError(f"version {version} not in {vs} of {table_path}")
    return spark.read.parquet(_version_dir(table_path, version))


def vacuum_snapshots(
    spark: SparkSession, table_path: str, keep_last: int
) -> list[int]:
    """Drop all but the newest keep_last versions; return what was
    removed. Readers pinned to a surviving version are unaffected
    (snapshots are immutable); keep_last >= 1 always holds the
    latest."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, _, jpath = _fs(spark, table_path)
    vs = snapshot_versions(spark, table_path)
    drop = vs[:-keep_last]
    # Janitor guard (ADVICE r7 low): a version slated for deletion may
    # hide a crashed committer's COMPLETE stage dir — an unpublished
    # commit. Deleting it blind would turn the crash window into real
    # data loss; surface it instead.
    doomed = {
        s["path"]
        for s in find_stranded_stages(spark, table_path)
        if s["complete"] and s["nested_in"] in set(drop)
    }
    if doomed:
        raise IOError(
            "vacuum would delete unpublished commit(s) stranded by a "
            f"crashed committer: {sorted(doomed)} — run "
            "recover_stranded_stages() first"
        )
    for v in drop:
        fs.delete(jpath(_version_dir(table_path, v)), True)
    return drop


def snapshot_diff(
    spark: SparkSession,
    table_path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Change-data-capture between two published versions: one
    null-safe FULL OUTER join on the key, emitting one row per changed
    key with `change_type` in {inserted, deleted, updated} and the
    old_/new_ value columns side by side (unchanged keys are filtered
    out). The lakehouse "table_changes()" surface, derived from plain
    immutable snapshots — no change log needed because versions are
    full copies (pair with `inventory_delta` for the aggregated-delta
    shape).

    Exactness: column comparison is null-safe equality on raw values —
    no arithmetic, so the verdict is deterministic across engines and
    retries. Scale: the join shuffles on the key (or broadcasts the
    smaller snapshot under AQE); comparison is one codegen'd projection.
    Fails fast if the two snapshots disagree on schema (a schema change
    is not a row diff)."""
    old = read_snapshot(spark, table_path, v_old)
    new = read_snapshot(spark, table_path, v_new)
    if old.schema != new.schema:
        raise ValueError(
            f"snapshot_diff: schema changed between v{v_old} and "
            f"v{v_new}: {old.schema.simpleString()} vs "
            f"{new.schema.simpleString()}"
        )
    from pyspark.sql import functions as F

    val_cols = [c for c in old.columns if c not in key_cols]
    # presence is tracked with explicit markers, NOT key nullness —
    # NULL is a legal (null-safely joined) key value, and reading
    # absence off a NULL key would misreport an unchanged NULL-keyed
    # row as deleted (review r8)
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in val_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in val_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in key_cols:
        eq = F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    in_old = F.coalesce(F.col("_in_old"), F.lit(False))
    in_new = F.coalesce(F.col("_in_new"), F.lit(False))
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(~in_new, "deleted")
        .when(~in_old, "inserted")
        .when(~same, "updated")
    )
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(f"_ko_{k}", f"_kn_{k}").alias(k)
                for k in key_cols
            ],
            "change_type",
            *[c for pair in (
                (f"old_{c}", f"new_{c}") for c in val_cols
            ) for c in pair],
        )
    )
