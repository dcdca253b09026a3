"""Plan-shape regression guards (cs686_big_data_p1_spark/plans.py).

tools/plan_audit.py runs the full audit out-of-band; these pytests pin
the two plan properties that have actually regressed or nearly
regressed, so CI catches them without the external tool:

  * no hint-forced broadcast of a fact table (the round-2
    tpch_q3_shipping bug: broadcast() wrapped the orders⋈customer join
    product — an executor OOM at 100x);
  * the guard helper itself detects a deliberately bad plan (so a
    parser regression cannot silently pass everything).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs686_big_data_p1_spark.plans import broadcast_fact_tables, formatted_plan
from tests.conftest import SF_SMALL

FACT_TABLES = {"orders", "lineitem", "events", "documents", "embeddings"}


@pytest.fixture()
def no_auto_broadcast(spark):
    """At test SFs every table is tiny, so Catalyst auto-broadcasts
    plans it never would at 100 TB; with the threshold off, only
    explicit broadcast() hints survive — the set the guard audits.

    The threshold is disabled on the cached stream_clone session too:
    views._VIEW_CACHE is applicationId-keyed, so if a streaming test
    ran first, the cached DFS-view frames belong to the CLONE and a
    plan built from them resolves under the clone's conf — leaving the
    threshold on there reintroduced the tiny-SF auto-broadcasts this
    fixture exists to suppress (test-order flake, r9)."""
    from cs686_big_data_p1_spark.streaming.liveness import _STREAM_SESSIONS

    key = "spark.sql.autoBroadcastJoinThreshold"
    sessions = [spark, *_STREAM_SESSIONS.values()]
    olds = [(s, s.conf.get(key)) for s in sessions]
    for s in sessions:
        s.conf.set(key, "-1")
    yield
    for s, old in olds:
        s.conf.set(key, old)


def test_tpch_joins_never_broadcast_facts(spark, registry, no_auto_broadcast):
    for name in ("tpch_q3_shipping", "tpch_q5_localsupp", "checksum_join"):
        plan = formatted_plan(registry.QUERIES[name](spark, SF_SMALL))
        bad = broadcast_fact_tables(plan, FACT_TABLES)
        assert not bad, f"{name} broadcasts fact table(s) {bad}"


def test_guard_detects_forced_fact_broadcast(spark, no_auto_broadcast):
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    l = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    bad_plan = formatted_plan(
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
    )
    assert broadcast_fact_tables(bad_plan, FACT_TABLES) == ["orders"]


def test_price_median_no_full_table_price_sort(spark, registry):
    """VERDICT r3 #3: the two-phase median must never sort the raw
    orders scan by price inside the 5 priority partitions. Any Sort
    touching o_totalprice must (a) include the histogram bucket in its
    key and (b) sit above the bucket-filter join — i.e. it orders only
    the <= 2 target cells per priority, not the whole table."""
    import re

    plan = formatted_plan(registry.QUERIES["price_median"](spark, SF_SMALL))
    nodes = {n.id: n for n in __import__(
        "cs686_big_data_p1_spark.plans", fromlist=["parse_tree"]
    ).parse_tree(plan)}

    args: dict[int, str] = {}
    current = None
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) [A-Za-z]", line)
        if m:
            current = int(m.group(1))
            continue
        if current is not None:
            a = re.match(r"^Arguments: (.*)$", line)
            if a:
                args[current] = a.group(1)

    price_sorts = [
        n for n in nodes.values()
        if n.name.startswith("Sort") and "o_totalprice" in args.get(n.id, "")
    ]
    assert price_sorts, "expected a cell-local sort in the median plan"
    for n in price_sorts:
        assert "bkt" in args[n.id], (
            f"Sort({n.id}) orders by price without the histogram bucket: "
            f"{args[n.id]}"
        )
        sub: list[str] = []
        todo = [n]
        while todo:
            cur = todo.pop()
            sub.append(cur.name)
            todo.extend(cur.children)
        assert any("Join" in s for s in sub), (
            f"Sort({n.id}) runs before the target-bucket filter join"
        )


def test_two_phase_rank_queries_have_no_global_window(spark, registry):
    """VERDICT r6 #1 / ADVICE r7 low: customer_value_deciles and
    customer_rfm must not funnel their input through a single-partition
    WindowExec. The only unpartitioned window allowed is the cumulative
    offset over the bounded composite (_bkt, _sub) histogram — exactly
    one in the final plan (Spark fuses the two frame variants; earlier
    ranks in the rfm chain sit behind eager checkpoints), and its
    subtree must contain the histogram aggregate keyed on _bkt, so a
    regression that windows the raw input cannot pass.
    tools/plan_audit.py's GLOBAL_WINDOW_WAIVERS carries the same max=1.
    """
    import re

    from cs686_big_data_p1_spark.plans import (
        parse_tree,
        unpartitioned_window_ids,
    )

    for name in ("customer_value_deciles", "customer_rfm"):
        plan = formatted_plan(registry.QUERIES[name](spark, SF_SMALL))
        ids = unpartitioned_window_ids(plan)
        assert len(ids) <= 1, (
            f"{name}: {len(ids)} unpartitioned Window nodes {ids} — "
            "the two-phase rank regressed to a global sort"
        )
        # the histogram window must sit above a groupBy(_bkt[, _sub])
        # aggregate, never the raw input
        keys: dict[int, str] = {}
        cur = None
        for line in plan.splitlines():
            m = re.match(r"^\((\d+)\) ", line)
            if m:
                cur = int(m.group(1))
                continue
            if cur is not None and line.startswith("Keys"):
                keys[cur] = line
        nodes = {n.id: n for n in parse_tree(plan)}
        for wid in ids:
            sub, todo = [], [nodes[wid]]
            while todo:
                c = todo.pop()
                sub.append(c)
                todo.extend(c.children)
            assert any(
                "Aggregate" in s.name and "_bkt" in keys.get(s.id, "")
                for s in sub
            ), f"{name}: Window({wid}) does not sit above the _bkt histogram"


def test_window_detector_flags_global_and_passes_partitioned(spark):
    """The unpartitioned-window detector itself: a global ORDER BY
    window is flagged; a partitioned window (with or without orderBy)
    is not — so a parser regression cannot silently waive everything.
    """
    from pyspark.sql.window import Window

    from cs686_big_data_p1_spark.plans import unpartitioned_window_ids

    df = spark.range(100).withColumn("g", F.col("id") % 7)
    flagged = formatted_plan(
        df.select(F.ntile(4).over(Window.orderBy("id")).alias("t"))
    )
    assert unpartitioned_window_ids(flagged), "global window not detected"
    ok_ordered = formatted_plan(
        df.select(
            F.row_number()
            .over(Window.partitionBy("g").orderBy("id"))
            .alias("r")
        )
    )
    assert not unpartitioned_window_ids(ok_ordered)
    ok_frame_only = formatted_plan(
        df.select(
            F.count(F.lit(1))
            .over(
                Window.partitionBy("g").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("c")
        )
    )
    assert not unpartitioned_window_ids(ok_frame_only)


def test_ntile_arithmetic_matches_builtin(spark):
    """_ntile_from_rank's closed form must equal the built-in ntile
    for every (n, k) shape class: n<k, n=k, n%k==0, n%k!=0."""
    from pyspark.sql.window import Window

    from cs686_big_data_p1_spark.operators.analytics import _ntile_from_rank

    for n, k in [(3, 10), (10, 10), (40, 10), (47, 10), (1, 5), (23, 5)]:
        df = (
            spark.range(n)
            .withColumn("_rank", F.col("id") + 1)
            .withColumn("_n", F.lit(n).cast("bigint"))
        )
        got = {
            r["_rank"]: r.tile
            for r in df.select(
                "_rank", _ntile_from_rank(k).alias("tile")
            ).collect()
        }
        want = {
            r["_rank"]: r.tile
            for r in df.select(
                "_rank", F.ntile(k).over(Window.orderBy("_rank")).alias("tile")
            ).collect()
        }
        assert got == want, f"n={n} k={k}"


def test_unsorted_collector_checker_catches_probe(spark):
    """VERDICT r11 #6: PARITY §7's "any nested output must be
    explicitly sorted on both sides" was enforced by example only. The
    rule is now structural — tools/check_oracle.py scans every
    registered query's analyzed plan with
    plans.unsorted_collector_violations and FAILS the sweep on an
    unwaived shuffle-ordered collector. This pins the checker itself
    on live plans: a deliberately unsorted probe is flagged, each
    sorted/derived form is not (so a parser regression cannot silently
    pass everything)."""
    from cs686_big_data_p1_spark.plans import unsorted_collector_violations

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    base = spark.range(10).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("x")
    )

    # Deliberately unsorted: collect_list straight off a groupBy.
    bad = base.groupBy("g").agg(F.collect_list("x").alias("xs"))
    v = unsorted_collector_violations(analyzed(bad))
    assert v and "collect_list" in v[0]

    # collect_set is the same class.
    bad2 = base.groupBy("g").agg(F.collect_set("x").alias("xs"))
    assert unsorted_collector_violations(analyzed(bad2))

    # Directly wrapped: fine.
    ok = base.groupBy("g").agg(F.sort_array(F.collect_list("x")).alias("xs"))
    assert unsorted_collector_violations(analyzed(ok)) == []

    # Sorter ANYWHERE in the enclosing chain: the two-phase salted
    # rollup shape sort_array(flatten(collect_list(...))) is fine —
    # the outer sort fixes the whole union's order.
    ok2 = base.groupBy("g").agg(
        F.sort_array(F.flatten(F.collect_list(F.array("x")))).alias("xs")
    )
    assert unsorted_collector_violations(analyzed(ok2)) == []

    # array_sort over struct-collect (the _lloyd recenter idiom).
    ok3 = base.groupBy("g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("x"))), lambda s: s["x"]
        ).alias("xs")
    )
    assert unsorted_collector_violations(analyzed(ok3)) == []

    # ADVICE r12: parens inside STRING LITERALS must not derail the
    # enclosing-call stack. An unbalanced '(' in a regexp literal
    # upstream of an unsorted collector previously pushed a phantom
    # frame and could silently suppress the violation; with literal
    # masking the collector is still flagged...
    lit_bad = (
        "Aggregate [g], [g, collect_list(regexp_extract(x, '([0-9]+', 1),"
        " 0, 0) AS xs]"
    )
    v = unsorted_collector_violations(lit_bad)
    assert v and "collect_list" in v[0]

    # ...and a SORTED collector with literal parens stays clean (the
    # mask must not invent violations either).
    lit_ok = (
        "Aggregate [g], [g, sort_array(collect_list("
        "regexp_extract(x, '([0-9]+', 1), 0, 0), true) AS xs]"
    )
    assert unsorted_collector_violations(lit_ok) == []

    # Live-plan variant: a real regexp_extract with parens in its
    # pattern literal, unsorted collector — flagged.
    lit_live = base.select(
        "g", F.regexp_extract(F.col("x").cast("string"), r"(\d+)", 1).alias("sx")
    ).groupBy("g").agg(F.collect_list("sx").alias("xs"))
    assert unsorted_collector_violations(analyzed(lit_live))


def test_registry_wide_nested_order_rule_is_wired():
    """The checker only bites if the sweep actually runs it over the
    whole registry: pin that check_oracle imports it, consults the
    by-name waiver dict, and that the waiver dict carries a
    justification string per entry (currently empty — every in-tree
    collector is sorter-wrapped)."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "check_oracle",
        pathlib.Path(__file__).resolve().parent.parent
        / "tools"
        / "check_oracle.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert hasattr(mod, "NESTED_ORDER_WAIVERS")
    assert all(
        isinstance(k, str) and isinstance(v, str) and v
        for k, v in mod.NESTED_ORDER_WAIVERS.items()
    )
    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "tools"
        / "check_oracle.py"
    ).read_text()
    assert "unsorted_collector_violations(" in src
    assert "NESTED_ORDER_WAIVERS" in src


def _ann_family_audits() -> list[str]:
    from cs686_big_data_p1_spark import registry
    from tools.plan_audit import AUDITS

    registry.load_all()
    mods = ("operators.ann", "operators.llm", "streaming.vectors")
    return [n for n in AUDITS if registry.QUERIES[n].__module__.endswith(mods)]


@pytest.mark.parametrize("name", _ann_family_audits())
def test_ann_family_plan_audit(spark, registry, no_auto_broadcast, name):
    """tools/plan_audit.py's AUDITS assertions for every ANN-family
    query (operators/ann.py, operators/llm.py, streaming/vectors.py),
    through the same per-query check the tool's main() runs: scan
    pruning, broadcast joins, no fact-table broadcast outside a bounded
    waiver, a WholeStageCodegen span and no CartesianProduct."""
    from tools.plan_audit import AUDITS, audit_query

    _plan, problems, _notes = audit_query(spark, name, AUDITS[name], SF_SMALL)
    assert not problems, f"{name}: {problems}"
