"""Base fixture tables with explicit schemas.

Explicit ``StructType`` on every production read: at 100 TB, schema
inference is a full extra file-footer pass and a correctness hazard
(the reference's schema is likewise fixed — compiled protobuf,
proto/messages.proto). Column pruning + predicate pushdown reach the
parquet scan because we read declaratively.

This module also owns the one memo for state derived from a fixture
directory (fixture_memo / fixture_store), keyed on table_fingerprint.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts unit varies by fixture generation: TIMESTAMP(MICROS)
    # reads natively as TimestampType (this schema); TIMESTAMP(NANOS)
    # cannot be read as TimestampType by Spark 4, so the nanos path
    # reads raw INT64 (EVENTS_NANOS_SCHEMA +
    # spark.sql.legacy.parquet.nanosAsLong) and converts with the same
    # ns->us truncation DuckDB applies. events_ts_unit() sniffs the
    # footer once per sf_dir so both generations load correctly.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = list(SCHEMAS)

# events schema for the TIMESTAMP(NANOS) fixture generation: ts is the
# raw INT64 nano count (surfaced by spark.sql.legacy.parquet.nanosAsLong).
EVENTS_NANOS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_EVENTS_TS_UNIT: dict[str, str] = {}


def events_ts_unit(sf_dir: str) -> str:
    """Timestamp unit of events.parquet's ts column ('us' or 'ns'),
    sniffed from the parquet footer once per sf_dir. One footer read on
    the driver — metadata-only, no data scan; at 100 TB this is the
    standard one-file schema probe any ingest job does. The fixture
    generator has shipped both units across rounds, so the load path
    must not hard-code either."""
    unit = _EVENTS_TS_UNIT.get(sf_dir)
    if unit is None:
        import pyarrow.parquet as papq

        ts_type = (
            papq.ParquetFile(f"{sf_dir}/events.parquet")
            .schema_arrow.field("ts")
            .type
        )
        # timestamp[us]/timestamp[ns] expose .unit; a bare int64 column
        # (pre-logical-type writers) is the nano-count convention.
        unit = getattr(ts_type, "unit", "ns")
        _EVENTS_TS_UNIT[sf_dir] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema."""
    if name == "events" and events_ts_unit(sf_dir) == "ns":
        # Deliberately NOT scoped with streaming's nanos_as_long()
        # context manager (r4 ADVICE): the returned DataFrame is lazy,
        # so the flag must still be set whenever a downstream action
        # finally executes the events scan — restoring it on return
        # would break any deferred plan. Instead the flag is a declared
        # engine-wide session default (session.py get_spark /
        # configure_existing both set it), and this line is an
        # idempotent reassertion for sessions built elsewhere. It is
        # inert for every other table: only nano-generation
        # events.parquet has TIMESTAMP(NANOS) columns, the only
        # physical type the flag affects.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(EVENTS_NANOS_SCHEMA).parquet(
            f"{sf_dir}/{name}.parquet"
        )
        # integer DIV: ns-epoch values exceed 2^53, double division
        # would lose up to ~128 us of precision
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table as a temp view (for spark.sql paths)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_fingerprint(sf_dir: str, name: str):
    """Cheap identity stamp of ``{sf_dir}/{name}.parquet`` — (size,
    mtime_ns) of the file, or the sorted stamps of a directory's
    children; None when not os.stat-able (remote filesystems). Memo
    keys include it so a rewritten fixture can never be served a stale
    derived frame (the ADVICE-r11 structural-staleness rule). The ONE
    copy of this logic in the tree — every memo keys through here."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            # Recursive walk (ADVICE r12): a partitioned layout nests
            # its files under key=value subdirs; fingerprinting only
            # the top level would miss a rewritten leaf file.
            stamps = []
            for root, dirs, files in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                for nm in sorted(files):
                    s = os.stat(os.path.join(root, nm))
                    stamps.append(
                        (os.path.join(rel, nm), s.st_size, s.st_mtime_ns)
                    )
            return tuple(stamps)
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


# --- fixture-derived state ------------------------------------------------
#
# One memo for every value derived from a fixture (one sf_dir of parquet
# tables): corpus counts, checkpointed cell assignments and cluster
# labels, on-disk IVF stores. An entry is keyed on (applicationId,
# sf_dir, fingerprints of every fixture table, tag), so rewriting any
# table makes every value derived from the old files unreachable, and a
# session clone (same application) shares its parent's entries. An
# sf_dir that is not a local directory (hdfs://, s3://) cannot be
# fingerprinted, so nothing is memoized for it and every call rebuilds.
#
# Single flight: each key has its own lock, so parallel_legs threads
# that miss the same cold key build it once, and a build may call other
# memos (a different key, a different lock). A failed build caches
# nothing.

_MEMO: dict[tuple, Any] = {}
_MEMO_LOCKS: dict[tuple, threading.Lock] = {}
_MEMO_GUARD = threading.Lock()
_SCRATCH_ROOT: list[str] = []


def _memoized(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[], Any],
    reusable: Callable[[Any], bool],
) -> Any:
    if not os.path.isdir(sf_dir):
        return build()
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        tuple(table_fingerprint(sf_dir, name) for name in TABLE_NAMES),
        tag,
    )
    with _MEMO_GUARD:
        lock = _MEMO_LOCKS.setdefault(key, threading.Lock())
    with lock:
        if key in _MEMO and reusable(_MEMO[key]):
            return _MEMO[key]
        _MEMO[key] = value = build()
        return value


def _alive(value: Any) -> bool:
    """A memoized DataFrame is a localCheckpoint whose blocks live on
    executors; if an executor holding them was lost, every consumer
    would fail with missing-block errors instead of recomputing
    (ADVICE r12). One bounded block read (ADVICE r13) decides reuse."""
    if not isinstance(value, DataFrame):
        return True
    try:
        value.limit(1).count()
        return True
    except Exception:  # noqa: BLE001 — any failure means rebuild
        return False


def fixture_memo(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], Any]
) -> Any:
    """``build()`` once per (application, fixture contents, tag)."""
    return _memoized(spark, sf_dir, tag, build, _alive)


def scratch_root() -> str:
    """The process's scratch directory, created on first use and
    removed at interpreter exit, so sweep and bench processes never
    litter the temp root. At deployment a store is a managed table
    location, not scratch."""
    with _MEMO_GUARD:
        if not _SCRATCH_ROOT:
            root = tempfile.mkdtemp(prefix="spark_graft_")
            atexit.register(shutil.rmtree, root, True)
            _SCRATCH_ROOT.append(root)
        return _SCRATCH_ROOT[0]


def fixture_store(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    write: Callable[[str], None],
) -> str:
    """Build an on-disk store once per (application, fixture contents,
    tag) and return its path. ``write(path)`` fills a fresh, empty
    directory under scratch_root(); the path is reused only while it
    still exists, and a crashed build is repaired by the next call
    building into a new directory."""

    def build() -> str:
        path = tempfile.mkdtemp(prefix=f"{tag}_", dir=scratch_root())
        write(path)
        return path

    return _memoized(spark, sf_dir, tag, build, os.path.isdir)
