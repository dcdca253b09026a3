"""Streaming-vs-batch parity (SURVEY.md §5.4, VERDICT r01 item 5).

Each Structured Streaming recast is driven to completion with
Trigger.AvailableNow and its final state compared against the batch
analog computed from the same fixture — asserting on outcomes, not
timing, per SURVEY §7. Covers the reference's standing loops:
HeartbeatMonitor (liveness state), session ends, and the
ChunkCorruptionMonitor alert fan-out.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

SESSION_GAP = datetime.timedelta(minutes=30)


def test_stream_last_seen_matches_batch(spark, registry):
    from cs686_big_data_p1_spark.views import heartbeats_df

    got = {
        (r.host, r.port, r.last_ts)
        for r in registry.QUERIES["stream_node_last_seen"](spark, SF_SMALL).collect()
    }
    want = {
        (r.host, r.port, r.last_ts)
        for r in heartbeats_df(spark, SF_SMALL)
        .groupBy("host", "port")
        .agg(F.max("ts").alias("last_ts"))
        .collect()
    }
    assert got == want


def test_stream_sessions_match_batch(spark, registry):
    """Append-mode session windows: every emitted session must exist in
    the batch hb_session result (session_end = last beat + gap), and the
    stream must emit nearly all of them — only sessions still open at
    the final watermark may be withheld."""
    stream_rows = registry.QUERIES["stream_hb_session"](spark, SF_SMALL).collect()
    batch_rows = registry.QUERIES["hb_session"](spark, SF_SMALL).collect()

    got = {
        (r.host, r.port, r.session_start, r.session_end, r.n_beats)
        for r in stream_rows
    }
    want = {
        (r.host, r.port, r.session_start, r.session_last + SESSION_GAP, r.n_beats)
        for r in batch_rows
    }
    assert got <= want
    assert len(got) >= 0.8 * len(want)
    # the withheld sessions must all touch the tail of the stream
    horizon = max(r.session_last for r in batch_rows) - datetime.timedelta(
        minutes=70
    )  # 40 min watermark + 30 min gap
    late = want - got
    assert all(end - SESSION_GAP >= horizon for (_, _, _, end, _) in late)


def test_stream_session_boundary_ties(spark, tmp_path):
    """Pins session_window tie semantics at the two boundaries the
    oracle encodes (r4 ADVICE): (1) beats exactly 30 minutes apart
    MERGE into one session (per-event windows [t, t+gap) coalesce when
    adjacent, so the oracle's split predicate must be strict `>`); and
    (2) a session whose end lands exactly on the final watermark IS
    emitted (finalization is `<=`). The stream, the hand-computed
    expectation, and the DuckDB oracle run on the same fixture must
    all agree."""
    import duckdb
    import pandas as pd

    from cs686_big_data_p1_spark.streaming.liveness import (
        HB_SESSION_STREAM_ORACLE,
        stream_hb_session,
    )

    min_us = 60_000_000
    base_us = 1_700_000_000_000_000
    # node bass14 (user 0): exact 30-min gaps -> ONE merged session,
    # still open at the final watermark -> withheld entirely. (If Spark
    # split at exactly 30 min, two finalized sessions would appear.)
    rows = [
        (1, base_us, 0),
        (2, base_us + 30 * min_us, 0),
        (3, base_us + 60 * min_us, 0),
    ]
    # node bass15 (user 1): sessions [0, 30m) emitted, [40m, 70m) ends
    # exactly at the final watermark (110m - 40m) -> emitted, [110m, ..)
    # open -> withheld.
    rows += [
        (4, base_us, 1),
        (5, base_us + 40 * min_us, 1),
        (6, base_us + 110 * min_us, 1),
    ]
    # ts as datetime64[ns] -> parquet TIMESTAMP(NANOS), matching the
    # real fixture's physical type (Spark's nanosAsLong scan reads it
    # as raw int64 nanos; DuckDB reads TIMESTAMP_NS).
    fixture = pd.DataFrame(
        [(eid, ts * 1000, uid, "hb", 0.0, "{}") for eid, ts, uid in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    fixture["ts"] = pd.to_datetime(fixture["ts"])
    fixture.to_parquet(str(tmp_path / "events.parquet"), index=False)

    got = {
        (r.host, r.port, r.session_start, r.session_end, r.n_beats)
        for r in stream_hb_session(spark, str(tmp_path)).collect()
    }
    base = datetime.datetime.fromtimestamp(
        base_us / 1_000_000, tz=datetime.timezone.utc
    ).replace(tzinfo=None)
    m = datetime.timedelta(minutes=1)
    want = {
        ("bass15", 9015, base, base + 30 * m, 1),
        ("bass15", 9015, base + 40 * m, base + 70 * m, 1),
    }
    assert got == want

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    # the oracle prelude's unused CTEs still bind against orders
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/orders.parquet')"
    )
    odf = con.execute(HB_SESSION_STREAM_ORACLE).df()
    oracle_rows = {
        (
            r.host,
            int(r.port),
            r.session_start.to_pydatetime(),
            r.session_end.to_pydatetime(),
            int(r.n_beats),
        )
        for r in odf.itertuples()
    }
    assert oracle_rows == want


def test_stateful_liveness_matches_batch(spark, registry):
    """applyInPandasWithState per-node state after draining the stream
    must equal the batch per-node aggregation, and each node's verdict
    must equal the batch age computation: dead iff its last beat is
    more than 30 s behind the global stream horizon (max ts across all
    nodes) — the HeartbeatMonitor rule."""
    import datetime

    from cs686_big_data_p1_spark.views import heartbeats_df

    rows = registry.QUERIES["stream_liveness_state"](spark, SF_SMALL).collect()
    assert len(rows) == len({(r.host, r.port) for r in rows})  # deduped
    got = {(r.host, r.port): (r.first_ts, r.last_ts, r.n_beats) for r in rows}
    batch = (
        heartbeats_df(spark, SF_SMALL)
        .groupBy("host", "port")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_beats"),
        )
        .collect()
    )
    want = {(r.host, r.port): (r.first_ts, r.last_ts, r.n_beats) for r in batch}
    assert got == want
    horizon = max(r.last_ts for r in batch)
    age = datetime.timedelta(milliseconds=30000)
    want_status = {
        (r.host, r.port): "dead" if horizon - r.last_ts > age else "alive"
        for r in batch
    }
    assert {(r.host, r.port): r.status for r in rows} == want_status


def test_stateful_liveness_kills_silent_node(spark, tmp_path):
    """A node whose last beat is far behind the stream horizon must be
    reported 'dead' via the event-time timeout (the regression the
    per-key-horizon bug masked: a silent node simply stopped appearing
    instead of dying)."""
    from cs686_big_data_p1_spark.streaming.stateful import (
        stream_liveness_state,
    )
    from cs686_big_data_p1_spark.views import N_NODES

    # user_id maps to node via user_id % N_NODES (heartbeat_stream):
    # node A (user 0) beats once early; node B (user 1) beats for 10
    # minutes after — A is ~600 s behind the final horizon.
    base_us = 1_700_000_000_000_000
    rows = [(0, base_us * 1000, 0, "hb", 0.0, "{}")]
    rows += [
        (i + 1, (base_us + i * 5_000_000) * 1000, 1, "hb", 0.0, "{}")
        for i in range(1, 121)
    ]
    import pandas as pd

    # single FILE named events.parquet (the stream's pathGlobFilter
    # matches file names; a Spark-written directory would be invisible)
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(str(tmp_path / "events.parquet"), index=False)
    out = {
        (r.host, r.port): r.status
        for r in stream_liveness_state(spark, str(tmp_path)).collect()
    }
    assert len(out) == 2
    statuses = sorted(out.values())
    assert statuses == ["alive", "dead"], out
    assert N_NODES >= 2


def test_stream_replication_orders_match_batch(spark, registry):
    """T4 end-to-end: after draining the heartbeat stream, the standing
    re-replication loop's final order book must equal the batch analog
    (same liveness horizon, same seeded picks, same failover source).
    sf0.01: at sf0.001 every chunk is fully replicated and the order
    book is empty, which would make parity vacuous."""
    from tests.conftest import SF_MED

    got = {
        tuple(r)
        for r in registry.QUERIES["stream_replication_orders"](
            spark, SF_MED
        ).collect()
    }
    want = {
        tuple(r)
        for r in registry.QUERIES["replication_orders"](spark, SF_MED).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_sink_exactly_once_across_restarts(spark, tmp_path):
    """The reference guarantees delivery with per-node FIFO queues +
    ACK/resend (MessageFifoQueue/MessageSender); our recast leans on
    checkpointed source offsets + idempotent sinks instead. Restarting
    the same query against the same checkpoint must not re-emit rows."""
    from cs686_big_data_p1_spark.streaming.liveness import heartbeat_stream
    from cs686_big_data_p1_spark.views import heartbeats_df

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            heartbeat_stream(spark, SF_SMALL)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # restart: committed offsets say everything is processed
    n2 = spark.read.parquet(out).count()
    assert n1 == n2
    assert n1 == heartbeats_df(spark, SF_SMALL).count() > 0


def test_stream_corruption_alerts_match_batch(spark, registry):
    got = {
        (r.host, r.port, r.filename, r.sequence_no)
        for r in registry.QUERIES["stream_corruption_alerts"](
            spark, SF_SMALL
        ).collect()
    }
    want = {
        (r.host, r.port, r.filename, r.sequence_no)
        for r in registry.QUERIES["corruption_scan"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_stream_dedup_exact_matches_batch(spark, registry):
    """The incrementally-maintained (keeper, copies) state must equal
    the batch exact-dedup row-for-row — the min-keeper rule makes the
    parity hold at ANY parallelism, not just single-split arrival
    order (review r8)."""
    got = {
        r.text_hash: (r.keeper_doc_id, r.n_copies)
        for r in registry.QUERIES["stream_dedup_exact"](
            spark, SF_SMALL
        ).collect()
    }
    want = {
        r.text_hash: (r.keeper_doc_id, r.n_copies)
        for r in registry.QUERIES["dedup_exact"](spark, SF_SMALL).collect()
    }
    assert got == want and got


def test_stream_event_dispatch_matches_batch(spark, registry):
    got = {
        (r.event_type, r.n)
        for r in registry.QUERIES["stream_event_dispatch"](
            spark, SF_SMALL
        ).collect()
    }
    want = {
        (r.event_type, r.n)
        for r in registry.QUERIES["event_dispatch"](spark, SF_SMALL).collect()
    }
    assert got == want and got


def test_stream_dedup_near_matches_batch_multibatch(spark, registry, tmp_path):
    """Multi-batch batch-parity for stream_dedup_near: the fixture docs
    plus a planted cross-batch near-dup pair and a planted cross-batch
    exact duplicate are split across 4 files streamed one per
    micro-batch; the accumulated pair set must equal batch dedup_near's
    jaccard >= 0.5 set over the same combined corpus (the exact dup
    must be absorbed by the hash store, not re-enter LSH)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs686_big_data_p1_spark.streaming.neardup import (
        STREAM_NEARDUP_MIN_JACCARD,
        neardup_stream_pairs,
    )
    from cs686_big_data_p1_spark.tables import SCHEMAS

    base = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .orderBy("doc_id")
        .toPandas()
    )
    words = [f"zqx{i}" for i in range(30)]
    t1 = " ".join(words)
    t2 = " ".join(words[:-1] + ["zqxCHANGED"])  # shingle jaccard ~0.87
    planted = pd.DataFrame(
        {
            "doc_id": [900001, 900002, 900003],
            "text": [t1, t2, t1],  # 900003 = exact dup of 900001
            "lang": ["en"] * 3,
            "source": ["planted"] * 3,
            "n_chars": [len(t1), len(t2), len(t1)],
        }
    )
    # slice 0 gets 900001, slice 2 the exact dup, slice 3 the near dup
    n = len(base)
    step = (n + 3) // 4
    slices = [base.iloc[i * step : (i + 1) * step] for i in range(4)]
    slices[0] = pd.concat([slices[0], planted.iloc[[0]]])
    slices[2] = pd.concat([slices[2], planted.iloc[[2]]])
    slices[3] = pd.concat([slices[3], planted.iloc[[1]]])

    src = tmp_path / "stream_src"
    batch_dir = tmp_path / "batch"
    src.mkdir()
    batch_dir.mkdir()
    for i, sl in enumerate(slices):
        path = src / f"slice_{i}.parquet"
        pq.write_table(pa.Table.from_pandas(sl, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # batch order
    pq.write_table(
        pa.Table.from_pandas(pd.concat(slices), preserve_index=False),
        batch_dir / "documents.parquet",
    )

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("doc_id", "text")
    )
    result = neardup_stream_pairs(spark, stream)
    got = {(r.doc_a, r.doc_b) for r in result.collect()}
    n_batches = {r.batch_id for r in result.collect()}
    want = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_near"](spark, str(batch_dir))
        .where(F.col("jaccard") >= STREAM_NEARDUP_MIN_JACCARD)
        .collect()
    }
    assert got == want
    assert (900001, 900002) in got  # cross-batch near dup found
    assert not any(900003 in p for p in got)  # exact dup absorbed
    assert len(n_batches) >= 2  # pairs genuinely span micro-batches


def test_stream_dedup_near_resumes_from_persisted_store(
    spark, registry, tmp_path
):
    """Two deliveries with a persisted store must equal one batch run
    over the union: the fixture halves stream as separate drains
    sharing a store directory, with a planted near-dup pair split
    across the deliveries — catching it requires the second drain to
    really match against the FIRST delivery's persisted signatures."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs686_big_data_p1_spark.streaming.neardup import (
        STREAM_NEARDUP_MIN_JACCARD,
        neardup_stream_pairs,
    )
    from cs686_big_data_p1_spark.tables import SCHEMAS

    base = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .orderBy("doc_id")
        .toPandas()
    )
    words = [f"rsx{i}" for i in range(30)]
    t1 = " ".join(words)
    t2 = " ".join(words[:-1] + ["rsxCHANGED"])
    mid = len(base) // 2
    halves = [base.iloc[:mid], base.iloc[mid:]]
    plant = pd.DataFrame(
        {
            "doc_id": [910001, 910002],
            "text": [t1, t2],
            "lang": ["en"] * 2,
            "source": ["planted"] * 2,
            "n_chars": [len(t1), len(t2)],
        }
    )
    halves[0] = pd.concat([halves[0], plant.iloc[[0]]])
    halves[1] = pd.concat([halves[1], plant.iloc[[1]]])

    store = str(tmp_path / "store")
    batch_dir = tmp_path / "batch"
    batch_dir.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pd.concat(halves), preserve_index=False),
        batch_dir / "documents.parquet",
    )
    got = None
    for i, half in enumerate(halves):
        d = tmp_path / f"delivery{i}"
        d.mkdir()
        pq.write_table(
            pa.Table.from_pandas(half, preserve_index=False),
            d / "docs.parquet",
        )
        stream = (
            spark.readStream.schema(SCHEMAS["documents"])
            .parquet(str(d))
            .select("doc_id", "text")
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in neardup_stream_pairs(spark, stream, store_path=store).collect()
        }
    want = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_near"](spark, str(batch_dir))
        .where(F.col("jaccard") >= STREAM_NEARDUP_MIN_JACCARD)
        .collect()
    }
    assert got == want
    assert (910001, 910002) in got  # found ACROSS deliveries via the store
    # one version per delivery, the superseded one vacuumed
    assert sorted(os.listdir(store)) == ["v=00000002"]
    assert os.path.isdir(f"{store}/v=00000002/shingles")


def test_stream_dedup_ttl_suppresses_inwindow_evicts_after(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned on a planted
    2-batch stream: an in-batch duplicate within the TTL window is
    suppressed; a key whose state the advancing watermark evicted
    passes through AGAIN in a later batch (bounded state, not
    accumulate-forever — the exact contrast with stream_dedup_exact)."""
    import os
    import uuid

    import pandas as pd

    from cs686_big_data_p1_spark.streaming.trending import DEDUP_TTL_DELAY

    assert DEDUP_TTL_DELAY == "2 hours"
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    h = pd.Timedelta(hours=1)
    b1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 3],
            "ts": [t0, t0 + 10 * h, t0, t0 + pd.Timedelta(minutes=10)],
            "user_id": [1] * 4,
            "event_type": ["view"] * 4,
            "value": [1.0] * 4,
            "props": ["{}"] * 4,
        }
    )
    # State cleanup runs at the END of the batch that advanced the
    # watermark, so eviction of id=1 (expiry t0+2h < watermark t0+8h)
    # is visible from batch 3 on: b2 only advances time, b3 re-sends.
    b2 = pd.DataFrame(
        {
            "event_id": [9],
            "ts": [t0 + 11 * h],
            "user_id": [1],
            "event_type": ["view"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    b3 = pd.DataFrame(
        {
            "event_id": [1],
            "ts": [t0 + 12 * h],
            "user_id": [1],
            "event_type": ["view"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    src = tmp_path / "events_src"
    os.makedirs(src)
    for i, pdf in enumerate([b1, b2, b3]):
        path = str(src / f"b{i}.parquet")
        pdf = pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
        pdf.to_parquet(path, index=False)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    from pyspark.sql import functions as F
    from cs686_big_data_p1_spark.tables import SCHEMAS

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("event_id", "ts")
        .withWatermark("ts", DEDUP_TTL_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = "ttl" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.event_id, r.ts) for r in spark.table(name).collect()
    )
    want = sorted(
        [(1, t0.to_pydatetime()), (2, (t0 + 10 * h).to_pydatetime()),
         (3, t0.to_pydatetime()), (9, (t0 + 11 * h).to_pydatetime()),
         (1, (t0 + 12 * h).to_pydatetime())]
    )
    assert got == want


def test_streaming_state_bounds_measured(spark):
    """The 'bounded state' claims in the streaming docstrings, pinned
    with the engine's OWN state-store metrics (lastProgress): liveness
    state is exactly one row per node; the attribution join retains
    far fewer rows than the event count (watermark eviction actually
    ran); trending retains at most windows x event-types."""
    import uuid

    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.streaming.liveness import (
        heartbeat_stream,
        nanos_as_long,
    )
    from cs686_big_data_p1_spark.streaming.trending import (
        TRENDING_DELAY,
        events_stream,
    )

    def run_and_state_rows(stream_df, mode):
        name = "m" + uuid.uuid4().hex[:8]
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.recentProgress
        rows = 0
        for p in progress[::-1]:
            ops = p["stateOperators"]
            if ops:
                rows = sum(op["numRowsTotal"] for op in ops)
                break
        return rows

    with nanos_as_long(spark):
        hb = heartbeat_stream(spark, SF_SMALL).select("host", "port", "ts")
        n_nodes = 0  # count via a batch read of the same derived view
        agg = hb.groupBy("host", "port").agg(F.max("ts").alias("last_ts"))
        state_rows = run_and_state_rows(agg, "complete")
    from cs686_big_data_p1_spark.views import heartbeats_df

    n_nodes = (
        heartbeats_df(spark, SF_SMALL)
        .select("host", "port")
        .distinct()
        .count()
    )
    assert state_rows == n_nodes  # one aggregate row per node, exactly

    with nanos_as_long(spark):
        ev = events_stream(spark, SF_SMALL)
        counts = (
            ev.withWatermark("ts", TRENDING_DELAY)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        trend_rows = run_and_state_rows(counts, "append")
    n_events = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    n_types = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_type")
        .distinct()
        .count()
    )
    # append mode: finalized windows leave state; what remains is the
    # in-flight tail — far below total and within windows x types of
    # the 90-minute allowance (2 open hourly windows max)
    assert 0 < trend_rows <= 2 * n_types
    assert trend_rows < n_events / 10


def test_stream_distinct_users_tolerance_and_finalization(spark, registry):
    """Each finalized window's sketch count must sit within 5% of the
    exact per-window distinct, and only watermark-finalized windows
    may appear (the stream_trending predicate)."""
    rows = registry.QUERIES["stream_distinct_users"](spark, SF_SMALL).collect()
    assert rows, "no finalized windows"
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    exact = {
        (r.ws, r.we): r.n
        for r in ev.select(
            F.window("ts", "1 hour").alias("w"), "user_id"
        )
        .groupBy(F.col("w.start").alias("ws"), F.col("w.end").alias("we"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    horizon = ev.agg(F.max("ts")).first()[0]
    import datetime

    final_wm = horizon - datetime.timedelta(minutes=90)
    for r in rows:
        assert r.window_end <= final_wm  # finalized only
        n = exact[(r.window_start, r.window_end)]
        assert abs(r.approx_users - n) <= max(2, 0.05 * n), (r, n)


def test_stream_drain_is_session_isolated(spark, registry):
    """ADVICE r7 low: stream drains must run on a cloned session (their
    own shuffle-partition width) and leave the caller's session conf
    untouched — no mutate-and-restore window a concurrent batch query
    could observe."""
    from cs686_big_data_p1_spark.streaming.liveness import (
        STREAM_STATE_PARTITIONS,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = registry.QUERIES["stream_node_last_seen"](spark, SF_SMALL)
    assert out.sparkSession is not spark
    assert out.sparkSession.conf.get("spark.sql.shuffle.partitions") == str(
        STREAM_STATE_PARTITIONS
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # semantic confs carried onto the clone (timezone drives oracle
    # parity of drained timestamps)
    assert (
        out.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC"
    )
    assert len(out.collect()) > 0


def test_stream_sessionize_matches_finalized_batch(spark, registry):
    """stream_sessionize (append, watermarked session_window) must
    equal the batch event_sessionize rows whose sessions had finalized
    at the drain's watermark — row-for-row, including the exact
    fixed-point totals."""
    import datetime

    from cs686_big_data_p1_spark.operators.sessions import (
        SESSION_GAP_S,
        event_sessionize,
    )

    got = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.n_purchases, r.total_value
        )
        for r in registry.QUERIES["stream_sessionize"](
            spark, SF_SMALL
        ).collect()
    }
    batch = event_sessionize(spark, SF_SMALL).collect()
    max_ts = max(r.session_end for r in batch)
    horizon = max_ts - datetime.timedelta(minutes=40)
    want = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.n_purchases, r.total_value
        )
        for r in batch
        if r.session_end + datetime.timedelta(seconds=SESSION_GAP_S)
        <= horizon
    }
    assert got == want and len(got) > 0


def test_stream_ohlc_matches_finalized_batch(spark, registry):
    """stream_ohlc (append, watermarked tumbling hour) must equal the
    batch ohlc_hourly rows whose windows had finalized at the drain's
    watermark — including the struct-keyed open/close edges."""
    import datetime

    got = {
        (r.event_type, r.hour_ts): (r.open, r.high, r.low, r.close, r.n_events)
        for r in registry.QUERIES["stream_ohlc"](spark, SF_SMALL).collect()
    }
    batch = registry.QUERIES["ohlc_hourly"](spark, SF_SMALL).collect()
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    import pyspark.sql.functions as F

    max_ts = e.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=90)
    want = {
        (r.event_type, r.hour_ts): (r.open, r.high, r.low, r.close, r.n_events)
        for r in batch
        if r.hour_ts + datetime.timedelta(hours=1) <= horizon
    }
    assert got == want and len(got) > 0


def test_stream_attribution_outer_finalization(spark, tmp_path):
    """LEFT OUTER stream-stream join (VERDICT r9 #7) on a planted
    fixture with all three purchase fates: (a) matched -> pair emitted
    with exact lag; (b) unmatched with match range CLOSED by the final
    watermark -> ONE null-view row; (c) unmatched but still inside the
    watermark horizon -> withheld entirely (a late view could still
    arrive); (d) unmatched with purchase_ts EXACTLY on the final
    watermark -> withheld, because Spark's state eviction compares
    event time STRICTLY against the watermark (ADVICE r10 — the oracle
    predicate is aligned to `<`, and this boundary row keeps it
    honest). The null rows must appear ONLY for watermark-closed
    purchases, and the DuckDB oracle on the same fixture must agree."""
    import duckdb
    import pandas as pd

    from cs686_big_data_p1_spark.streaming.trending import (
        ATTRIBUTION_OUTER_ORACLE,
        stream_attribution_outer,
    )

    h_us = 3_600_000_000
    base_us = 1_700_000_000_000_000
    # final watermark = min(max view_ts, max purchase_ts) - 2h
    #                 = min(base+10h, base+12h) - 2h = base + 8h
    rows = [
        # (event_id, ts_us, user_id, type)
        (1, base_us + 1 * h_us, 7, "view"),      # matches purchase 2
        (2, base_us + 1 * h_us + 60, 7, "purchase"),   # (a) matched
        (3, base_us + 2 * h_us, 8, "purchase"),  # (b) unmatched, closed
        (4, base_us + 9 * h_us, 9, "purchase"),  # (c) unmatched, open
        (5, base_us + 10 * h_us, 7, "view"),     # max view_ts anchor
        (6, base_us + 12 * h_us, 6, "purchase"), # max purchase anchor; open
        # user 8 has a view OUTSIDE the 1h window (too early): purchase
        # 3 is genuinely unmatched, not merely view-less
        (7, base_us, 8, "view"),
        # (d) boundary: purchase EXACTLY at the final watermark
        # (base + 8h) — Spark holds it (strict eviction), so neither
        # engine may emit it
        (8, base_us + 8 * h_us, 10, "purchase"),
    ]
    fixture = pd.DataFrame(
        [(eid, ts * 1000, uid, et, 0.0, "{}") for eid, ts, uid, et in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    fixture["ts"] = pd.to_datetime(fixture["ts"])
    fixture.to_parquet(str(tmp_path / "events.parquet"), index=False)

    got = {
        (r.user_id, r.purchase_id, r.view_id, r.lag_s)
        for r in stream_attribution_outer(spark, str(tmp_path)).collect()
    }
    want = {
        (7, 2, 1, 0),        # matched pair, 60 us lag truncates to 0 s
        (8, 3, None, None),  # unmatched + closed: null flush emitted
        # purchases 4 and 6 (open ranges) withheld
    }
    assert got == want

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    odf = con.execute(ATTRIBUTION_OUTER_ORACLE).df()
    oracle_rows = {
        (
            int(r.user_id),
            int(r.purchase_id),
            None if pd.isna(r.view_id) else int(r.view_id),
            None if pd.isna(r.lag_s) else int(r.lag_s),
        )
        for r in odf.itertuples()
    }
    assert oracle_rows == want


def test_neardup_store_crash_before_publish_serves_previous(
    spark, tmp_path, monkeypatch
):
    """A write that stages all four tables but dies before the publish
    rename leaves the previous version serving: a load while the stage
    exists and after the crash both read it, and the dot-prefixed stage
    never surfaces. A path holding only such a stage (a crashed first
    write) loads as a fresh store."""
    import os

    import pytest as _pytest

    import cs686_big_data_p1_spark.sources.snapshots as snap
    from cs686_big_data_p1_spark.streaming.neardup import (
        _STORE_SCHEMAS,
        load_neardup_store,
        write_neardup_store,
    )

    store_path = str(tmp_path / "store")
    store, loaded = load_neardup_store(spark, None)
    assert loaded == 0
    store["hashes"] = spark.createDataFrame(
        [("aaa",), ("bbb",)], _STORE_SCHEMAS["hashes"]
    )
    assert write_neardup_store(store, store_path, loaded) == 1

    class Crash(Exception):
        pass

    mid_write = []

    def crash_before_publish(s, table_path, token, version=None):
        mid_write.append(load_neardup_store(s, table_path))
        raise Crash

    store2, loaded = load_neardup_store(spark, store_path)
    store2["hashes"] = spark.createDataFrame([("new",)], _STORE_SCHEMAS["hashes"])
    first = str(tmp_path / "first")
    monkeypatch.setattr(snap, "_publish_stage", crash_before_publish)
    with _pytest.raises(Crash):
        write_neardup_store(store2, store_path, loaded)
    with _pytest.raises(Crash):
        write_neardup_store(store2, first, 0)
    monkeypatch.undo()

    served, v = mid_write[0]
    assert v == 1
    assert {r.th for r in served["hashes"].collect()} == {"aaa", "bbb"}
    stages = [n for n in os.listdir(store_path) if n.startswith(".stage-")]
    assert len(stages) == 1
    assert os.path.isdir(f"{store_path}/{stages[0]}/shingles")
    served, v = load_neardup_store(spark, store_path)
    assert v == 1
    assert {r.th for r in served["hashes"].collect()} == {"aaa", "bbb"}
    assert mid_write[1][1] == 0
    fresh, v = load_neardup_store(spark, first)
    assert v == 0 and fresh["hashes"].count() == 0


def test_neardup_store_write_verifies_swap(spark, tmp_path, monkeypatch):
    """A stage-to-version rename that reports false (Hadoop's failure
    shape, e.g. permissions) must make the write raise, naming the kept
    stage, rather than report success or retry forever; the previous
    version keeps serving."""
    import pytest as _pytest

    import cs686_big_data_p1_spark.sources.snapshots as snap
    from cs686_big_data_p1_spark.streaming.neardup import (
        _STORE_SCHEMAS,
        load_neardup_store,
        write_neardup_store,
    )

    store_path = str(tmp_path / "store")
    store, loaded = load_neardup_store(spark, None)
    store["hashes"] = spark.createDataFrame([("old1",)], _STORE_SCHEMAS["hashes"])
    write_neardup_store(store, store_path, loaded)

    class StubbornFS:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if dst.getName().startswith("v="):
                return False  # the publish rename refuses
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    orig = snap._fs

    def stubborn(s, path):
        fs, p, jvm = orig(s, path)
        return StubbornFS(fs), p, jvm

    store2, loaded = load_neardup_store(spark, store_path)
    store2["hashes"] = spark.createDataFrame([("new1",)], _STORE_SCHEMAS["hashes"])
    monkeypatch.setattr(snap, "_fs", stubborn)
    with _pytest.raises(IOError, match=r"stage .*\.stage-"):
        write_neardup_store(store2, store_path, loaded)
    monkeypatch.undo()

    survived, v = load_neardup_store(spark, store_path)
    assert v == 1
    assert {r.th for r in survived["hashes"].collect()} == {"old1"}


def test_neardup_store_concurrent_writer_still_raises(spark, tmp_path):
    """Expected-version commit: two writers load the same version v and
    A commits v + 1. B's commit must raise and publish nothing — not
    land as v + 2 over A's state — so A's state is what loads."""
    import os

    import pytest as _pytest

    from cs686_big_data_p1_spark.streaming.neardup import (
        _STORE_SCHEMAS,
        load_neardup_store,
        write_neardup_store,
    )

    store_path = str(tmp_path / "store")
    store, loaded = load_neardup_store(spark, None)
    store["hashes"] = spark.createDataFrame(
        [("prior",)], _STORE_SCHEMAS["hashes"]
    )
    write_neardup_store(store, store_path, loaded)

    def drained(extra):
        # a drain leaves every store frame localCheckpointed, so none
        # still reads the version a concurrent commit vacuums
        st, v = load_neardup_store(spark, store_path)
        st = {n: df.localCheckpoint(eager=True) for n, df in st.items()}
        st["hashes"] = spark.createDataFrame(
            [("prior",), (extra,)], _STORE_SCHEMAS["hashes"]
        )
        return st, v

    a, va = drained("from_a")
    b, vb = drained("from_b")
    assert va == vb == 1
    assert write_neardup_store(a, store_path, va) == 2
    with _pytest.raises(IOError, match="version 2 .* already reached"):
        write_neardup_store(b, store_path, vb)

    served, v = load_neardup_store(spark, store_path)
    assert v == 2
    assert {r.th for r in served["hashes"].collect()} == {"prior", "from_a"}
    assert sorted(os.listdir(store_path)) == ["v=00000002"]


def test_stream_ivf_assign_matches_batch_append(spark):
    """stream_ivf_assign is knn_ivf_append's assignment pass run from a
    stream: the SAME fixed-point kernel against the SAME frozen
    codebook must give the SAME cell per new vector — pin the drained
    stream output row-for-row against the batch merged assignment's
    delta subset, and that ONLY the delta residue class is assigned."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.operators.ann import (
        DELTA_MOD,
        DELTA_RES,
        _append_parts,
    )
    from cs686_big_data_p1_spark.streaming.vectors import stream_ivf_assign

    sf = "/root/testdata/sf0.001"
    got = {(r.new_vec, r.cid) for r in stream_ivf_assign(spark, sf).collect()}
    registry.clear_caches()
    _v, _b, _d, _c, merged, _p = _append_parts(spark, sf)
    want = {
        (r.neighbor_id, r.cid)
        for r in merged.where(
            (F.col("neighbor_id") % DELTA_MOD) == DELTA_RES
        ).collect()
    }
    registry.clear_caches()
    assert got == want
    assert got  # the residue class is populated
    assert all(v % DELTA_MOD == DELTA_RES for v, _ in got)



def test_stream_ivf_assign_is_stateless(spark, tmp_path):
    """stream_ivf_assign is an append-mode map over the arrivals: the
    drained query's progress reports no state operator, and a fixture
    whose arrival set is empty (no delta residue-class rows) drains to
    a typed empty (new_vec, cid) frame."""
    import os
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.operators.ann import DELTA_MOD, DELTA_RES
    from cs686_big_data_p1_spark.streaming.liveness import stream_clone
    from cs686_big_data_p1_spark.streaming.vectors import stream_ivf_assign
    from cs686_big_data_p1_spark.tables import TABLE_NAMES, load_table

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    probe = Progress()
    clone = stream_clone(spark)
    clone.streams.addListener(probe)
    try:
        rows = stream_ivf_assign(spark, SF_SMALL).collect()
        for _ in range(100):  # listener events arrive asynchronously
            if probe.events:
                break
            time.sleep(0.1)
    finally:
        clone.streams.removeListener(probe)
        registry.clear_caches()
    assert rows
    assert probe.events
    assert all(not p.stateOperators for p in probe.events)

    # Zero arrivals: the fixture without its delta residue class.
    sf = str(tmp_path / "no_delta")
    os.makedirs(sf)
    for name in TABLE_NAMES:
        if name != "embeddings":
            src = os.path.join(SF_SMALL, f"{name}.parquet")
            os.symlink(src, os.path.join(sf, f"{name}.parquet"))
    e = load_table(spark, SF_SMALL, "embeddings")
    e.where((F.col("vec_id") % DELTA_MOD) != DELTA_RES).write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    empty = stream_ivf_assign(spark, sf)
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("new_vec", "bigint"),
        ("cid", "bigint"),
    ]
    assert empty.collect() == []
    registry.clear_caches()

def test_stream_embedding_drift_state_is_order_invariant(spark):
    """stream_embedding_drift's state is the mergeable sufficient
    statistic (per-dim, per-split sums + counts), so the drained
    report must equal the batch embedding_drift row for row — pin the
    equality, which simultaneously pins that micro-batch boundaries
    and arrival order cannot change the answer."""
    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.streaming.vectors import (
        stream_embedding_drift,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.dim: (r.n_base, r.n_delta, r.base_sum_e6, r.delta_sum_e6, r.drift)
        for r in stream_embedding_drift(spark, sf).collect()
    }
    registry.clear_caches()
    registry.load_all()
    want = {
        r.dim: (r.n_base, r.n_delta, r.base_sum_e6, r.delta_sum_e6, r.drift)
        for r in registry.QUERIES["embedding_drift"](spark, sf).collect()
    }
    registry.clear_caches()
    assert got == want


def test_ivf_maintenance_fold_is_exactly_once_and_stream_equals_batch(
    spark, registry, tmp_path
):
    """stream_ivf_maintenance (VERDICT r12 #8): simulate the
    foreachBatch loop by hand — base store, two DISJOINT delta
    micro-batches folded in sequence, then the FIRST batch REPLAYED
    (at-least-once delivery) — and pin that (1) the store's vec->cid
    map equals knn_ivf_append's merged batch assignment exactly
    (stream == batch parity, any batch split), (2) the replay appended
    nothing (the anti-join fold makes delivery exactly-once in
    effect), and (3) the registry query's drained report equals the
    composition of the batch monitors: ivf_imbalance's per-cell rows +
    embedding_drift's drifting-dimension count."""
    from cs686_big_data_p1_spark.operators.ann import (
        ANN_N_QUERIES,
        DELTA_MOD,
        DELTA_RES,
        _append_parts,
        read_ivf_store,
        write_ivf_base_store,
    )
    from cs686_big_data_p1_spark.streaming.vectors import fold_ivf_batch
    from cs686_big_data_p1_spark.tables import load_table

    store = str(tmp_path / "maint")
    write_ivf_base_store(spark, SF_SMALL, store)
    _v, _b, _d, cent_rows, merged, _p = _append_parts(spark, SF_SMALL)
    want = {(r.neighbor_id, r.cid) for r in merged.collect()}
    registry.clear_caches()

    e = load_table(spark, SF_SMALL, "embeddings")
    delta = e.where(
        (F.col("vec_id") >= ANN_N_QUERIES)
        & ((F.col("vec_id") % DELTA_MOD) == DELTA_RES)
    )
    half_a = delta.where((F.col("vec_id") % 2) == 0)
    half_b = delta.where((F.col("vec_id") % 2) == 1)

    fold_ivf_batch(half_a, store, cent_rows)
    fold_ivf_batch(half_b, store, cent_rows)
    stored = read_ivf_store(spark, store, rows="all")
    got = {(r.vec_id, r.cid) for r in stored.collect()}
    assert got == want  # (1) stream == batch under an arbitrary split

    from cs686_big_data_p1_spark.sources.snapshots import snapshot_versions

    n_before, versions = stored.count(), snapshot_versions(spark, store)
    fold_ivf_batch(half_a, store, cent_rows)  # replayed delivery
    # (2): nothing appended, and nothing published either
    assert read_ivf_store(spark, store, rows="all").count() == n_before
    assert snapshot_versions(spark, store) == versions

    # (3) the registry query's report == the composed batch monitors
    report = {
        r.cid: (r.occupancy, r.n_delta, r.hot, r.drift_dims, r.retrain)
        for r in registry.QUERIES["stream_ivf_maintenance"](
            spark, SF_SMALL
        ).collect()
    }
    registry.clear_caches()
    imb = {
        r.cid: (r.occupancy, r.n_delta, r.hot)
        for r in registry.QUERIES["ivf_imbalance"](spark, SF_SMALL).collect()
    }
    registry.clear_caches()
    drift_dims = sum(
        1
        for r in registry.QUERIES["embedding_drift"](
            spark, SF_SMALL
        ).collect()
        if r.drift
    )
    assert set(report) == set(imb)
    for cid, (occ, nd, hot) in imb.items():
        r_occ, r_nd, r_hot, r_dd, r_retrain = report[cid]
        assert (r_occ, r_nd, r_hot) == (occ, nd, hot)
        assert r_dd == drift_dims
        assert r_retrain == (hot or drift_dims > 0)


def test_stream_decontaminate_matches_batch(spark, registry, tmp_path):
    """stream_decontaminate: the drained per-doc (n_grams, n_shared)
    report must equal batch `decontaminate` row for row (they share
    one oracle), and batch sizing must not matter — re-running the
    stream over the SAME corpus split into three parquet part-files
    (multiple source files, the multi-batch arrival shape) yields the
    identical report, because the per-doc aggregate is a mergeable
    sufficient statistic and the eval gram set is static."""
    batch = {
        (r.doc_id, r.n_grams, r.n_shared)
        for r in registry.QUERIES["decontaminate"](spark, SF_SMALL).collect()
    }
    registry.clear_caches()
    stream = {
        (r.doc_id, r.n_grams, r.n_shared)
        for r in registry.QUERIES["stream_decontaminate"](
            spark, SF_SMALL
        ).collect()
    }
    registry.clear_caches()
    assert stream == batch and batch

    # multi-file arrival: same docs, 3 part files
    import shutil

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    alt = tmp_path / "alt"
    alt.mkdir()
    src.repartition(3).write.parquet(str(alt / "documents.parquet"))
    stream3 = {
        (r.doc_id, r.n_grams, r.n_shared)
        for r in registry.QUERIES["stream_decontaminate"](
            spark, str(alt)
        ).collect()
    }
    registry.clear_caches()
    assert stream3 == batch
    shutil.rmtree(alt, ignore_errors=True)
