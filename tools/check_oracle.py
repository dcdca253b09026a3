"""Self-check harness: replicate the driver's Spark-vs-DuckDB compare.

Runs every registered query at the given SF dir, runs its DuckDB
oracle over the same parquet, and compares row count, schema (column
names), and an order-insensitive value comparison (exact for
non-floats, exact-then-approx diagnostics for floats).

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

With --json, writes a machine-readable result artifact. The per-round
gate (VERDICT r7 #1; source pinning since r9, three SFs since r11) is
one sweep per scale factor, with $TESTDATA the fixture root that
TESTDATA.md names:

    python tools/check_oracle.py --json ORACLE_SWEEP.json $TESTDATA/sf0.001
    python tools/check_oracle.py --json ORACLE_SWEEP_SF0.01.json $TESTDATA/sf0.01
    python tools/check_oracle.py --json ORACLE_SWEEP_SF0.1.json $TESTDATA/sf0.1

committed at the repo root; tests/test_oracle_gate.py then asserts each
artifact is failure-free, its query/oracle name sets exactly match the
live registry, AND its recorded engine-source sha256 matches the
current tree — so registering, renaming, re-oracling, or EDITING the
semantics of any query without re-running the full sweep fails the
pytest suite (VERDICT r8 #5: the name-set pin alone let edits to
existing queries ride on a stale sweep).
"""

from __future__ import annotations

import functools
import json
import math
import sys
import time

print = functools.partial(print, flush=True)

import os as _os0

sys.path.insert(
    0, _os0.path.dirname(_os0.path.dirname(_os0.path.abspath(__file__)))
)

import duckdb
import pandas as pd

from cs686_big_data_p1_spark.plans import unsorted_collector_violations

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Nested-column ordering rule (VERDICT r11 #6, PARITY.md §7): every
# registered query's ANALYZED plan is scanned for aggregation
# collectors (collect_list / collect_set / array_agg) with no
# enclosing sort_array / array_sort — shuffle-ordered output that
# hash-compares nondeterministically. Violations FAIL the sweep unless
# the query is waived here BY NAME with the ordering that makes it
# deterministic anyway. Currently empty: every in-tree collector is
# sorter-wrapped; a new entry requires its justification reviewed.
NESTED_ORDER_WAIVERS: dict[str, str] = {}

# Derived from THIS file's location, not a hardcoded absolute path
# (ADVICE r9): with a constant path, relocating the repo made os.walk
# yield nothing and the sha silently degraded to the empty-input hash
# on BOTH the sweep and gate sides — the edit-without-resweep pin
# passed vacuously. engine_source_sha() additionally refuses to hash
# an empty tree for the same reason.
import os as _os

ENGINE_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "cs686_big_data_p1_spark",
)


def engine_source_sha() -> str:
    """sha256 over every engine source file (relpath + contents, sorted)
    — the artifact pin that makes editing an existing query's semantics
    without a re-sweep loud (VERDICT r8 #5). Tests import this so the
    gate and the sweep can never disagree on what 'the sources' are."""
    import hashlib
    import os

    h = hashlib.sha256()
    paths = []
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        for f in files:
            if f.endswith(".py"):
                paths.append(os.path.join(root, f))
    if not paths:
        raise RuntimeError(
            f"engine_source_sha: no .py sources under {ENGINE_ROOT} — "
            "refusing to pin the empty-input hash"
        )
    for p in sorted(paths):
        h.update(os.path.relpath(p, ENGINE_ROOT).encode())
        h.update(b"\0")
        with open(p, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"schema: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rows: spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        # Dtype-kind parity (VERDICT r10 #2): the driver's value hash is
        # type-sensitive (123 != 123.0). The old compare coerced to float
        # whenever EITHER side was float, which let DuckDB's
        # sum(BIGINT)->HUGEINT->float64 rendering pass locally while
        # failing in the driver (r10: pagerank_copurchase, bpe_merges,
        # knn_pq_adc). Fail loudly on int-kind vs float-kind mismatch;
        # coerce only when BOTH sides are float.
        skind, okind = sv.dtype.kind, ov.dtype.kind
        int_kinds = {"i", "u"}
        if (skind in int_kinds and okind == "f") or (
            skind == "f" and okind in int_kinds
        ):
            problems.append(
                f"col {c}: DTYPE-mismatch spark={sv.dtype} oracle={ov.dtype} "
                "(driver hash is type-sensitive; CAST the oracle column)"
            )
            continue
        # Datetime-vs-object is the same contract class (VERDICT r10
        # #8): Spark DateType reaches pandas as object-dtype
        # datetime.date while DuckDB DATE renders datetime64[us] —
        # element equality holds but a type-sensitive hash diverges.
        # Emit TIMESTAMP on both sides instead.
        if (skind == "M") != (okind == "M"):
            problems.append(
                f"col {c}: DTYPE-mismatch spark={sv.dtype} oracle={ov.dtype} "
                "(datetime vs non-datetime rendering; emit TIMESTAMP on "
                "both sides — Spark DATE becomes object-dtype date)"
            )
            continue
        if skind == "f" or okind == "f":
            sv = sv.astype(float)
            ov = ov.astype(float)
            both_nan = sv.isna() & ov.isna()
            exact = (sv == ov) | both_nan
            if not exact.all():
                close = pd.Series(
                    [
                        (a == b) or (not (math.isnan(a) or math.isnan(b)) and math.isclose(a, b, rel_tol=1e-9))
                        for a, b in zip(sv.fillna(float("nan")), ov.fillna(float("nan")))
                    ]
                )
                n_bad = int((~exact).sum())
                tag = "EXACT-mismatch-but-close" if close.all() else "VALUE-mismatch"
                idx = (~exact).idxmax()
                problems.append(
                    f"col {c}: {tag} ({n_bad} rows) e.g. spark={sv[idx]!r} oracle={ov[idx]!r}"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c}: VALUE-mismatch ({int((~eq).sum())} rows) e.g. spark={sv[idx]!r} oracle={ov[idx]!r}"
                )
    return problems


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_oracle.py [--json OUT.json] [sf_dir] [query ...]")
            return 2
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.session import get_spark

    registry.load_all()
    spark = get_spark("oracle-check")
    con = duck_con(sf_dir)

    t0 = time.monotonic()
    failed: list[str] = []
    result: dict[str, dict] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            viols = unsorted_collector_violations(
                df._jdf.queryExecution().analyzed().toString()
            )
            if viols and name not in NESTED_ORDER_WAIVERS:
                print(
                    f"FAIL  {name}: unsorted nested collector(s) — "
                    "shuffle-ordered ArrayType output (PARITY §7); wrap "
                    "in sort_array/array_sort or waive by name: "
                    + " | ".join(viols)
                )
                failed.append(name)
                result[name] = {
                    "status": "fail",
                    "error": "unsorted nested collector",
                    "nested_unsorted": viols,
                }
                registry.clear_caches()
                continue
            sdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            result[name] = {"status": "fail", "error": f"spark error: {e}"}
            continue
        finally:
            registry.clear_caches()  # per-query scratch caches only
        osql = registry.ORACLES.get(name)
        if osql is None:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows (no oracle)")
            result[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        try:
            odf = con.execute(osql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failed.append(name)
            result[name] = {"status": "fail", "error": f"oracle error: {e}"}
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed.append(name)
            result[name] = {"status": "fail", "error": "; ".join(problems)}
        else:
            print(f"OK    {name}: {len(sdf)} rows")
            result[name] = {"status": "ok", "rows": len(sdf)}
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if json_out and not only:  # partial runs must not masquerade as the gate
        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "source_sha": engine_source_sha(),
                    "elapsed_sec": round(time.monotonic() - t0, 1),
                    "n_queries": len(result),
                    "n_ok": sum(
                        1 for r in result.values() if r["status"] == "ok"
                    ),
                    "n_rows_only": sum(
                        1 for r in result.values() if r["status"] == "rows_only"
                    ),
                    "n_failed": len(failed),
                    "nested_order_checked": True,
                    "queries": result,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
