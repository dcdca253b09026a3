"""tables.fixture_memo / fixture_store: the one memo for every value
derived from a fixture directory.

Pins single flight across parallel_legs threads, nested builds inside a
leg, rebuild after an in-place rewrite of any fixture table, no
memoization for non-local fixture paths, and that corpus_curate (whose
curated set is memoized) reflects a rewritten documents.parquet.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from cs686_big_data_p1_spark.tables import TABLE_NAMES
from tests.conftest import SF_SMALL


def _bump(path: str) -> None:
    """Push a rewritten file's mtime forward, so a rewrite within one
    filesystem timestamp tick still changes its fingerprint."""
    ns = os.stat(path).st_mtime_ns + 1_000_000
    os.utime(path, ns=(ns, ns))


def _counting(value, delay: float = 0.0):
    calls = []

    def build():
        calls.append(1)
        time.sleep(delay)
        return value

    return build, calls


def test_parallel_legs_race_one_cold_key_builds_once(spark, tmp_path):
    from cs686_big_data_p1_spark.functions.legs import parallel_legs
    from cs686_big_data_p1_spark.tables import fixture_memo

    build, calls = _counting(42, delay=0.3)
    both_missed = threading.Barrier(2, timeout=30)

    def leg():
        both_missed.wait()  # both legs reach the cold key together
        return fixture_memo(spark, str(tmp_path), "race", build)

    assert parallel_legs(leg, leg) == [42, 42]
    assert len(calls) == 1


def test_nested_build_inside_a_leg(spark, tmp_path):
    from cs686_big_data_p1_spark.functions.legs import parallel_legs
    from cs686_big_data_p1_spark.tables import fixture_memo

    sf_dir = str(tmp_path)
    inner, inner_calls = _counting(10, delay=0.2)
    outer_calls = []

    def outer():
        outer_calls.append(1)
        return fixture_memo(spark, sf_dir, "inner", inner) + 1

    def leg_outer():
        return fixture_memo(spark, sf_dir, "outer", outer)

    def leg_inner():
        return fixture_memo(spark, sf_dir, "inner", inner)

    assert parallel_legs(leg_outer, leg_inner, leg_outer) == [11, 10, 11]
    assert len(inner_calls) == 1 and len(outer_calls) == 1


def test_nested_parallel_legs_inside_a_build(spark, tmp_path):
    from cs686_big_data_p1_spark.functions.legs import parallel_legs
    from cs686_big_data_p1_spark.tables import fixture_memo

    sf_dir = str(tmp_path)
    part, part_calls = _counting(5, delay=0.1)

    def outer():
        legs = parallel_legs(
            lambda: fixture_memo(spark, sf_dir, "part", part),
            lambda: fixture_memo(spark, sf_dir, "part", part),
        )
        return sum(legs)

    assert fixture_memo(spark, sf_dir, "sum", outer) == 10
    assert fixture_memo(spark, sf_dir, "sum", outer) == 10
    assert len(part_calls) == 1


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_in_place_rewrite_of_any_table_forces_rebuild(spark, tmp_path, table):
    from cs686_big_data_p1_spark.tables import fixture_memo, fixture_store

    sf_dir = str(tmp_path / "fixture")
    os.makedirs(sf_dir)
    for name in TABLE_NAMES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "wb") as f:
            f.write(b"v1")
    build, calls = _counting("value")
    written = []
    fixture_memo(spark, sf_dir, "rewrite", build)
    store1 = fixture_store(spark, sf_dir, "rewrite_store", written.append)
    assert fixture_memo(spark, sf_dir, "rewrite", build) == "value"
    assert fixture_store(spark, sf_dir, "rewrite_store", written.append) == store1
    assert len(calls) == 1 and written == [store1]

    path = os.path.join(sf_dir, f"{table}.parquet")
    with open(path, "wb") as f:
        f.write(b"v2")
    _bump(path)
    fixture_memo(spark, sf_dir, "rewrite", build)
    store2 = fixture_store(spark, sf_dir, "rewrite_store", written.append)
    assert len(calls) == 2
    assert store2 != store1 and written == [store1, store2]
    assert os.path.isdir(store2) and not os.listdir(store2)


def test_store_is_rebuilt_once_its_directory_is_gone(spark, tmp_path):
    from cs686_big_data_p1_spark.tables import fixture_store, scratch_root

    sf_dir = str(tmp_path)
    written = []
    path = fixture_store(spark, sf_dir, "gone", written.append)
    assert os.path.dirname(path) == scratch_root()
    shutil.rmtree(path)
    again = fixture_store(spark, sf_dir, "gone", written.append)
    assert again != path and written == [path, again]


def test_non_local_sf_dir_is_never_memoized(spark):
    from cs686_big_data_p1_spark.tables import fixture_memo, fixture_store

    sf_dir = "hdfs://namenode:8020/fixtures/sf0.001"
    build, calls = _counting(7)
    assert fixture_memo(spark, sf_dir, "remote", build) == 7
    assert fixture_memo(spark, sf_dir, "remote", build) == 7
    assert len(calls) == 2
    written = []
    p1 = fixture_store(spark, sf_dir, "remote_store", written.append)
    p2 = fixture_store(spark, sf_dir, "remote_store", written.append)
    assert p1 != p2 and written == [p1, p2]


def test_corpus_curate_reflects_rewritten_documents(spark, registry, tmp_path):
    """The curated set is memoized per fixture; rewriting
    documents.parquet in place must drop every removed document from
    the next corpus_curate result."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    for name in TABLE_NAMES:
        shutil.copy(
            os.path.join(SF_SMALL, f"{name}.parquet"),
            os.path.join(sf_dir, f"{name}.parquet"),
        )
    curate = registry.QUERIES["corpus_curate"]
    before = {r.doc_id for r in curate(spark, sf_dir).select("doc_id").collect()}
    assert before

    # keep only the even half of the corpus, rewritten in place
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = pq.read_table(docs_path)
    kept = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0))
    pq.write_table(kept, docs_path)
    _bump(docs_path)
    live = set(kept["doc_id"].to_pylist())

    after = {r.doc_id for r in curate(spark, sf_dir).select("doc_id").collect()}
    assert before - live, "the fixture had no odd doc_id to remove"
    assert after <= live
    registry.clear_caches()
