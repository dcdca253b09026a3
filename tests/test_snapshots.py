"""Snapshot-table (time travel) semantics: atomic publish, version
pinning, and vacuum isolation (sources/snapshots.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs686_big_data_p1_spark.sources.snapshots import (
    read_snapshot,
    snapshot_versions,
    vacuum_snapshots,
    write_snapshot,
)


def test_snapshot_time_travel_roundtrip(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    v1 = write_snapshot(spark, spark.range(5).withColumn("v", F.col("id") * 2), tbl)
    v2 = write_snapshot(spark, spark.range(3).withColumn("v", F.col("id") * 7), tbl)
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(spark, tbl) == [1, 2]
    # latest == v2, pinned read == v1, both exact
    assert {(r.id, r.v) for r in read_snapshot(spark, tbl).collect()} == {
        (i, i * 7) for i in range(3)
    }
    assert {
        (r.id, r.v) for r in read_snapshot(spark, tbl, 1).collect()
    } == {(i, i * 2) for i in range(5)}


def test_snapshot_stage_invisible_and_vacuum(spark, tmp_path):
    import os

    tbl = str(tmp_path / "tbl")
    for k in range(4):
        write_snapshot(spark, spark.range(k + 1), tbl)
    # a leftover staging dir must not surface as a version
    os.makedirs(os.path.join(tbl, ".stage-v00000099"))
    assert snapshot_versions(spark, tbl) == [1, 2, 3, 4]

    # a reader plan pinned to v2 survives vacuum of v1
    pinned = read_snapshot(spark, tbl, 2)
    dropped = vacuum_snapshots(spark, tbl, keep_last=3)
    assert dropped == [1]
    assert snapshot_versions(spark, tbl) == [2, 3, 4]
    assert pinned.count() == 2
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl, 1)
    with pytest.raises(ValueError):
        vacuum_snapshots(spark, tbl, keep_last=0)


def test_snapshot_empty_table_errors(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nope"))


def test_snapshot_publish_race_loser_retries(spark, tmp_path, monkeypatch):
    """Verified-CAS property: Hadoop rename onto an EXISTING version
    dir 'succeeds' by nesting the stage inside it; the loser must
    detect that via the commit marker, recover its stage, and land on
    the next version — the winner's snapshot stays byte-identical and
    the loser's commit is not lost."""
    import cs686_big_data_p1_spark.sources.snapshots as snap

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(2), tbl)  # v1

    # The "winner" publishes v2 directly on disk.
    winner = spark.range(10, 13)
    winner.write.parquet(f"{tbl}/v=00000002")

    # Simulate the loser having raced: it listed versions BEFORE the
    # winner published (stale [1]) and its exists() probe for v=2 also
    # predates the publish (lies False exactly once).
    real_sv = snap.snapshot_versions
    calls = {"n": 0}

    def stale_sv(s, path):
        calls["n"] += 1
        return [1] if calls["n"] == 1 else real_sv(s, path)

    class RacyFS:
        def __init__(self, fs):
            self._fs = fs
            self._lied = False

        def exists(self, p):
            if not self._lied and p.getName() == "v=00000002":
                self._lied = True
                return False
            return self._fs.exists(p)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs_fn = snap._fs

    def racy_fs(s, path):
        fs, p, jvm = real_fs_fn(s, path)
        return RacyFS(fs), p, jvm

    monkeypatch.setattr(snap, "snapshot_versions", stale_sv)
    monkeypatch.setattr(snap, "_fs", racy_fs)

    v = write_snapshot(spark, spark.range(100, 104), tbl)
    assert v == 3  # loser retried past the winner, did not clobber it
    assert real_sv(spark, tbl) == [1, 2, 3]
    assert {r.id for r in read_snapshot(spark, tbl, 2).collect()} == {10, 11, 12}
    assert {r.id for r in read_snapshot(spark, tbl, 3).collect()} == {100, 101, 102, 103}
    # no stray nested stage dir left inside the winner's snapshot
    fs, p, jvm = real_fs_fn(spark, f"{tbl}/v=00000002")
    names = [st.getPath().getName() for st in fs.listStatus(p)]
    assert not any(n.startswith(".stage-") for n in names)


def test_stranded_stage_janitor_recovers_lost_commit(spark, tmp_path):
    """ADVICE r7 low: a committer that crashed between the nesting
    rename and the pull-back leaves its complete stage inside the
    winner's version. The janitor must (a) surface it, (b) refuse to
    vacuum the hiding version, (c) republish it as a real version; an
    INCOMPLETE root stage (crash mid-write, no marker) is deleted; a
    young stage is left alone."""
    import os

    from cs686_big_data_p1_spark.sources.snapshots import (
        find_stranded_stages,
        recover_stranded_stages,
    )

    tbl = str(tmp_path / "tbl")
    for k in range(3):
        write_snapshot(spark, spark.range(k + 1), tbl)  # v1..v3

    # crash window artifact: complete stage (data + marker) nested in v1
    token = "deadbeef"
    nested = f"{tbl}/v=00000001/.stage-{token}"
    spark.range(500, 504).write.parquet(nested)
    open(os.path.join(nested, f"_commit-{token}"), "w").close()
    # crash mid-write artifact: incomplete root stage, no marker
    os.makedirs(f"{tbl}/.stage-aborted1")

    found = {s["token"]: s for s in find_stranded_stages(spark, tbl)}
    assert found[token]["nested_in"] == 1 and found[token]["complete"]
    assert found["aborted1"]["nested_in"] is None
    assert not found["aborted1"]["complete"]

    # vacuum that would delete v1 must refuse while the commit hides there
    with pytest.raises(IOError):
        vacuum_snapshots(spark, tbl, keep_last=1)
    assert snapshot_versions(spark, tbl) == [1, 2, 3]

    # young stages are untouched
    assert recover_stranded_stages(spark, tbl, min_age_ms=10**9) == {}
    assert {s["token"] for s in find_stranded_stages(spark, tbl)} == {
        token, "aborted1"
    }

    out = recover_stranded_stages(spark, tbl, min_age_ms=0)
    assert out[f"{tbl}/v=00000001/.stage-{token}"] == 4  # republished
    assert out[f"{tbl}/.stage-aborted1"] is None  # deleted
    assert find_stranded_stages(spark, tbl) == []
    assert {r.id for r in read_snapshot(spark, tbl, 4).collect()} == {
        500, 501, 502, 503
    }
    # with the commit recovered, vacuum proceeds
    assert vacuum_snapshots(spark, tbl, keep_last=2) == [1, 2]


def test_janitor_keeps_expected_version_stage_to_its_version(
    spark, tmp_path, monkeypatch
):
    """A crashed EXPECTED-VERSION commit (a read-modify-write of the
    version before) is recovered only as exactly the version it
    expected: deleted once a newer writer holds that version — never
    republished as the next free number over the newer commit — and
    published as that version while it is still free."""
    import cs686_big_data_p1_spark.sources.snapshots as snap

    def crash(*_a, **_k):
        raise RuntimeError("crashed after staging")

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(1), tbl)  # v1
    with monkeypatch.context() as m:
        m.setattr(snap, "_publish_stage", crash)
        for rows in (spark.range(10, 12), spark.range(20, 23)):
            with pytest.raises(RuntimeError):
                snap._commit(spark, tbl, rows.write.parquet, version=2)
    stages = [s["path"] for s in snap.find_stranded_stages(spark, tbl)]
    assert len(stages) == 2
    write_snapshot(spark, spark.range(5), tbl)  # the newer writer's v2
    out = snap.recover_stranded_stages(spark, tbl, min_age_ms=0)
    assert out == {p: None for p in stages}
    assert snapshot_versions(spark, tbl) == [1, 2]
    assert read_snapshot(spark, tbl).count() == 5

    with monkeypatch.context() as m:
        m.setattr(snap, "_publish_stage", crash)
        with pytest.raises(RuntimeError):
            snap._commit(spark, tbl, spark.range(30, 34).write.parquet, 3)
    out = snap.recover_stranded_stages(spark, tbl, min_age_ms=0)
    assert list(out.values()) == [3]
    assert {r.id for r in read_snapshot(spark, tbl, 3).collect()} == {
        30, 31, 32, 33
    }


def test_expected_version_onto_pruned_number_raises(
    spark, tmp_path, monkeypatch
):
    """An incremental table prunes versions below its latest, so a
    stale expected-version writer can find its number free again: it
    listed v1, then v2 was published and, after v3, pruned away. Its
    rename onto v2 succeeds, but the commit must still raise — before
    the caller prunes from its stale manifest — and v3 stays the
    latest."""
    import cs686_big_data_p1_spark.sources.snapshots as snap

    tbl = str(tmp_path / "tbl")
    for rows in (spark.range(1), spark.range(2), spark.range(3)):
        write_snapshot(spark, rows, tbl)
    fs, _, jpath = snap._fs(spark, tbl)
    fs.delete(jpath(f"{tbl}/v=00000002"), True)  # pruned after v3
    real_sv, listed = snap.snapshot_versions, []

    def stale_once(s, path):
        listed.append(path)
        return [1] if len(listed) == 1 else real_sv(s, path)

    monkeypatch.setattr(snap, "snapshot_versions", stale_once)
    with pytest.raises(IOError, match="already passed"):
        snap._commit(spark, tbl, spark.range(10, 12).write.parquet, 2)
    monkeypatch.undo()
    assert snapshot_versions(spark, tbl) == [1, 2, 3]
    assert read_snapshot(spark, tbl).count() == 3


def test_janitor_spares_live_slow_write(spark, tmp_path):
    """Review r8: a parquet write running longer than min_age_ms keeps
    its stage dir's TOP mtime at write start while fresh task files
    appear deep under _temporary/ — the janitor must age the stage by
    the newest file in the TREE and leave the live write alone."""
    import os
    import time

    from cs686_big_data_p1_spark.sources.snapshots import (
        find_stranded_stages,
        recover_stranded_stages,
    )

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(3), tbl)  # v1
    # incomplete stage that "started an hour ago" but is still writing
    stage = f"{tbl}/.stage-livewrite"
    deep = f"{stage}/_temporary/0/task_000"
    os.makedirs(deep)
    with open(f"{deep}/part-00000.parquet", "w") as fh:
        fh.write("in-flight bytes")
    old = time.time() - 7200
    os.utime(deep, (old, old))
    os.utime(f"{stage}/_temporary/0", (old, old))
    os.utime(f"{stage}/_temporary", (old, old))
    os.utime(stage, (old, old))  # top dir mtime: write start, 2 h ago

    found = {s["token"]: s for s in find_stranded_stages(spark, tbl)}
    assert not found["livewrite"]["complete"]
    # tree mtime saw the fresh part file -> not old enough to touch
    assert recover_stranded_stages(spark, tbl, min_age_ms=3_600_000) == {}
    assert os.path.exists(f"{deep}/part-00000.parquet")

    # once the WHOLE tree is old (writer truly dead), it is reclaimed
    os.utime(f"{deep}/part-00000.parquet", (old, old))
    out = recover_stranded_stages(spark, tbl, min_age_ms=3_600_000)
    assert out == {stage: None}
    assert not os.path.exists(stage)


def test_snapshot_diff_cdc(spark, tmp_path):
    """snapshot_diff emits exactly the inserted/deleted/updated keys
    with old/new values side by side; unchanged keys are silent; NULL
    keys and NULL-to-value transitions compare null-safely; a schema
    change refuses instead of mis-diffing."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.sources.snapshots import snapshot_diff

    tbl = str(tmp_path / "tbl")
    v1_rows = [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)]
    v2_rows = [(1, "a", 10.0), (2, "b", 2.5), (4, None, 40.0), (5, "e", 50.0)]
    schema = "k long, name string, score double"
    write_snapshot(spark, spark.createDataFrame(v1_rows, schema), tbl)
    write_snapshot(spark, spark.createDataFrame(v2_rows, schema), tbl)

    got = {
        r.k: (r.change_type, r.old_name, r.new_name, r.old_score, r.new_score)
        for r in snapshot_diff(spark, tbl, 1, 2, ["k"]).collect()
    }
    assert got == {
        2: ("updated", "b", "b", None, 2.5),  # NULL -> value is a change
        3: ("deleted", "c", None, 30.0, None),
        5: ("inserted", None, "e", None, 50.0),
    }  # 1 unchanged, 4 unchanged (NULL name compares null-safely)

    # schema drift refuses
    write_snapshot(
        spark,
        spark.createDataFrame([(1, "a")], "k long, name string"),
        tbl,
    )
    with pytest.raises(ValueError):
        snapshot_diff(spark, tbl, 2, 3, ["k"])


def test_snapshot_diff_null_key_rows(spark, tmp_path):
    """Review r8: NULL is a legal key value — an unchanged NULL-keyed
    row must be silent, a changed one must report updated, and a
    NULL-keyed insert must say inserted (not deleted)."""
    from cs686_big_data_p1_spark.sources.snapshots import snapshot_diff

    tbl = str(tmp_path / "tbl")
    schema = "k long, name string"
    # v1: NULL-keyed row + a normal row; v2: NULL row updated, plus a
    # second table where the NULL row is brand new
    write_snapshot(
        spark, spark.createDataFrame([(None, "x"), (1, "a")], schema), tbl
    )
    write_snapshot(
        spark, spark.createDataFrame([(None, "x"), (1, "a2")], schema), tbl
    )
    got = {
        r.k: r.change_type for r in snapshot_diff(spark, tbl, 1, 2, ["k"]).collect()
    }
    assert got == {1: "updated"}  # unchanged NULL-keyed row is silent

    write_snapshot(
        spark,
        spark.createDataFrame([(None, "y"), (1, "a2"), (None, "x")], schema),
        tbl,
    )
    # v2 -> v3: the (NULL, "x") row matches null-safely BUT v3 also has
    # (NULL, "y") — with a non-unique NULL key both sides cross-match;
    # assert the verdicts at least never claim 'deleted' for present keys
    rows = snapshot_diff(spark, tbl, 2, 3, ["k"]).collect()
    assert all(r.change_type in ("inserted", "updated") for r in rows)


def test_publish_stage_returns_janitor_adopted_version(spark, tmp_path):
    """Review r8: a committer whose stage was adopted and republished
    by the janitor must report the landed version, not raise — or the
    caller would retry and double-commit."""
    import os

    from cs686_big_data_p1_spark.sources.snapshots import (
        _publish_stage,
        recover_stranded_stages,
    )

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(2), tbl)  # v1
    token = "stalled01"
    stage = f"{tbl}/.stage-{token}"
    spark.range(7, 9).write.parquet(stage)
    open(os.path.join(stage, f"_commit-{token}"), "w").close()
    # janitor adopts the "stalled committer"'s complete stage
    out = recover_stranded_stages(spark, tbl, min_age_ms=0)
    assert out[stage] == 2
    # the original committer resumes its CAS loop: must return v2
    assert _publish_stage(spark, tbl, token) == 2
    # a stage that was DELETED (marker nowhere) still errors
    import pytest as _pytest

    with _pytest.raises(IOError):
        _publish_stage(spark, tbl, "neverexisted")


def test_publish_stage_recovers_janitor_nested_stage(spark, tmp_path):
    """ADVICE r8: the committer's stage can be NESTED inside another
    committer's published version (the janitor adopted it, then itself
    lost a publish race and hasn't pulled it back yet). The original
    committer — whose root stage is gone and whose marker is under no
    published version — must not raise 'deleted, not adopted': it owns
    the token, so it pulls the nested stage back out and finishes the
    publish itself. Raising here would make the caller retry
    write_snapshot and double-commit once the janitor's republish
    lands."""
    import os

    from cs686_big_data_p1_spark.sources.snapshots import _publish_stage

    tbl = str(tmp_path / "tbl")
    write_snapshot(spark, spark.range(2), tbl)  # v1
    write_snapshot(spark, spark.range(3), tbl)  # v2
    # Simulate the janitor's lost-race window: the committer's complete
    # stage (data + marker) sits nested inside v2, its root stage gone.
    token = "nestedrace1"
    nested = f"{tbl}/v=00000002/.stage-{token}"
    spark.range(70, 74).write.parquet(nested)
    open(os.path.join(nested, f"_commit-{token}"), "w").close()

    v = _publish_stage(spark, tbl, token)
    assert v == 3  # pulled back and published, not raised
    assert snapshot_versions(spark, tbl) == [1, 2, 3]
    assert {r.id for r in read_snapshot(spark, tbl, 3).collect()} == {
        70, 71, 72, 73
    }
    # v2 is clean again — no stage dir left nested inside it
    import cs686_big_data_p1_spark.sources.snapshots as snap

    fs, p, _ = snap._fs(spark, f"{tbl}/v=00000002")
    names = [st.getPath().getName() for st in fs.listStatus(p)]
    assert not any(n.startswith(".stage-") for n in names)


def test_cdc_apply_stream_reconstructs_table(spark, tmp_path):
    """VERDICT r8 #9: replaying a source table's snapshot_diff stream
    through cdc_apply_stream must reconstruct the table on the replica
    version-for-version — final replica content == final source
    content, one replica version per replayed transition, with
    deletes, updates, inserts, and a NULL-keyed row all exercised."""
    import os

    import pyarrow.parquet as pq

    from cs686_big_data_p1_spark.sources.snapshots import snapshot_diff
    from cs686_big_data_p1_spark.streaming.cdc import cdc_apply_stream

    src = str(tmp_path / "src")
    schema = "k long, name string, score double"
    versions = [
        [(1, "a", 1.0), (2, "b", 2.0), (None, "z", 0.0)],
        [(1, "a", 1.5), (2, "b", 2.0), (3, "c", 3.0), (None, "z", 0.0)],
        [(2, "b", 2.0), (3, "c2", 3.5), (None, "z", 9.0)],
    ]
    for rows in versions:
        from cs686_big_data_p1_spark.sources.snapshots import write_snapshot

        write_snapshot(spark, spark.createDataFrame(rows, schema), src)

    # replica seeded with v1 (a bootstrap copy), diffs replayed 1->2->3
    replica = str(tmp_path / "replica")
    from cs686_big_data_p1_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    write_snapshot(spark, read_snapshot(spark, src, 1), replica)

    stream_dir = tmp_path / "diffs"
    stream_dir.mkdir()
    for i, (vo, vn) in enumerate([(1, 2), (2, 3)]):
        diff = snapshot_diff(spark, src, vo, vn, ["k"])
        pdf = diff.toPandas()
        pdf["k"] = pdf["k"].astype("Int64")  # keep NULL-able bigint key
        import pyarrow as pa

        path = stream_dir / f"diff_{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    diff_schema = snapshot_diff(spark, src, 1, 2, ["k"]).schema
    diffs = (
        spark.readStream.schema(diff_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    cdc_apply_stream(diffs, replica, ["k"])

    assert snapshot_versions(spark, replica) == [1, 2, 3]
    for v in (2, 3):
        got = {
            (r.k, r.name, r.score)
            for r in read_snapshot(spark, replica, v).collect()
        }
        want = {
            (r.k, r.name, r.score)
            for r in read_snapshot(spark, src, v).collect()
        }
        assert got == want, f"replica v{v} diverged"


@pytest.mark.parametrize("failure", ["returns_false", "raises"])
def test_publish_stage_failed_rename_raises_not_spins(
    spark, tmp_path, monkeypatch, failure
):
    """A publish rename that keeps failing while the stage stays intact
    and the version stays absent (permissions, quota) must raise
    IOError naming the stage after one attempt, not retry forever. The
    stub stops a spinning loop with a BaseException past a bound, which
    a retry's ``except Exception`` cannot swallow, so a regression
    fails instead of hanging."""
    import os
    import re

    import cs686_big_data_p1_spark.sources.snapshots as snap

    class Spun(BaseException):
        pass

    calls = {"n": 0}

    class FailingFS:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            calls["n"] += 1
            if calls["n"] > 50:
                raise Spun
            if failure == "raises":
                raise RuntimeError("quota exceeded")
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs_fn = snap._fs
    tbl = str(tmp_path / "tbl")
    token = "refused01"
    stage = f"{tbl}/.stage-{token}"
    spark.range(3).write.parquet(stage)
    open(os.path.join(stage, f"_commit-{token}"), "w").close()
    def failing_fs(s, path):
        fs, p, jvm = real_fs_fn(s, path)
        return FailingFS(fs), p, jvm

    monkeypatch.setattr(snap, "_fs", failing_fs)
    with pytest.raises(IOError, match=re.escape(f"stage {stage} ")):
        snap._publish_stage(spark, tbl, token)
    assert calls["n"] == 1
    assert os.path.isdir(stage)
    assert snapshot_versions(spark, tbl) == []
