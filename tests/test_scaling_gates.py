"""Gates pinning SCALING.md's claims to the tree (VERDICT r14 #5).

SCALING.md carries a bounded-collect inventory (module -> site count ->
bound -> justification). These tests make the document self-enforcing:
a new `.collect()` (or any `.toPandas()`) landing in the package without
an inventory row fails CI with a pointer to the table, so the 100 TB
evidence document can never silently drift from the code again.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cs686_big_data_p1_spark"
SCALING = Path(__file__).resolve().parent.parent / "SCALING.md"

# The bounded-collect inventory: module -> expected `.collect()` site
# count. MUST match the table in SCALING.md ("Python stays on the Arrow
# path"). When adding a collect site: justify its bound in the SCALING.md
# row, then bump the count here — both, or this test fails.
EXPECTED_COLLECT_SITES = {
    "operators/ann.py": 9,
    "streaming/vectors.py": 2,
    "operators/search.py": 2,
    "operators/linalg.py": 3,
    "operators/analytics.py": 1,
    "sources/sort.py": 1,
    "sources/incremental.py": 1,
    "sources/formats.py": 1,
}


def _collect_sites() -> dict[str, int]:
    out: dict[str, int] = {}
    for py in sorted(PKG.rglob("*.py")):
        n = len(re.findall(r"\.collect\(\)", py.read_text()))
        if n:
            out[str(py.relative_to(PKG))] = n
    return out


def test_collect_sites_are_inventoried():
    actual = _collect_sites()
    assert actual == EXPECTED_COLLECT_SITES, (
        "package .collect() sites diverge from the SCALING.md bounded-"
        "collect inventory. New site? Document its bound in SCALING.md's "
        "inventory table AND bump EXPECTED_COLLECT_SITES. Removed one? "
        f"Update both. actual={actual}"
    )


def test_no_topandas_anywhere():
    offenders = [
        str(py.relative_to(PKG))
        for py in sorted(PKG.rglob("*.py"))
        if ".toPandas()" in py.read_text()
    ]
    assert not offenders, f".toPandas() found in {offenders}"


def test_scaling_md_inventory_counts_match():
    """The SCALING.md table's per-module site counts equal the live
    grep — the artifact is verified, not asserted (the plan_audit
    footer discipline applied to this document)."""
    text = SCALING.read_text()
    for mod, n in EXPECTED_COLLECT_SITES.items():
        m = re.search(r"\| `%s` \| (\d+) \|" % re.escape(mod), text)
        assert m, f"SCALING.md inventory lacks a row for {mod}"
        assert int(m.group(1)) == n, (
            f"SCALING.md row for {mod} says {m.group(1)} sites, "
            f"grep finds {n}"
        )
