"""dedup_ngram semantics on a controlled corpus.

The fixture-level oracle check (tools/check_oracle.py / the driver)
pins the full pipeline against DuckDB; these tests pin the *semantics*
on a corpus where the right answer is computable by hand: a one-edit
near-duplicate pair must surface with the exact n-gram Jaccard, exact
duplicates must collapse to one representative before pairing, and
unrelated documents must produce no candidate pairs.
"""

from __future__ import annotations

import pytest

from cs686_big_data_p1_spark.operators.llm import NGRAM_N


def _grams(text: str) -> set[str]:
    return {text[i : i + NGRAM_N] for i in range(len(text) - NGRAM_N + 1)}


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = base.replace("lazy", "hazy")  # one-char edit
    rows = [
        (0, base, "en", "unit", len(base)),
        (1, near, "en", "unit", len(near)),
        (2, "zzzz qqqq wwww vvvv kkkk xxxx yyyy jjjj", "en", "unit", 39),
        (3, base, "en", "unit", len(base)),  # exact duplicate of doc 0
    ]
    path = str(tmp_path_factory.mktemp("corpus"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return path


def test_ngram_finds_one_edit_pair(spark, registry, corpus_dir):
    rows = registry.QUERIES["dedup_ngram"](spark, corpus_dir).collect()
    by_pair = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 1) in by_pair, "one-edit near-duplicate pair not found"
    r = by_pair[(0, 1)]
    ga, gb = _grams("the quick brown fox jumps over the lazy dog near the river bank"), None
    gb = _grams(
        "the quick brown fox jumps over the hazy dog near the river bank"
    )
    expected = len(ga & gb) / len(ga | gb)
    assert r.n_a == len(ga) and r.n_b == len(gb)
    assert abs(r.jaccard - expected) < 1e-12


def test_ngram_collapses_exact_dups_first(spark, registry, corpus_dir):
    rows = registry.QUERIES["dedup_ngram"](spark, corpus_dir).collect()
    docs = {d for r in rows for d in (r.doc_a, r.doc_b)}
    assert 3 not in docs, "exact duplicate should be collapsed to doc 0"


def test_ngram_no_pairs_for_unrelated(spark, registry, corpus_dir):
    rows = registry.QUERIES["dedup_ngram"](spark, corpus_dir).collect()
    docs = {d for r in rows for d in (r.doc_a, r.doc_b)}
    assert 2 not in docs, "unrelated doc shares no 4-gram, must not pair"


def test_dedup_clusters_are_valid_components(spark, registry):
    """Cluster labels must be real component representatives: every
    label is the min doc_id of its cluster, every clustered doc appears
    exactly once, and both endpoints of every >=0.5-jaccard pair share
    a label."""
    from cs686_big_data_p1_spark.operators.llm import CLUSTER_JACCARD

    from tests.conftest import SF_SMALL

    rows = registry.QUERIES["dedup_clusters"](spark, SF_SMALL).collect()
    label = {r.doc_id: r.cluster_id for r in rows}
    assert len(label) == len(rows)  # one row per doc
    by_cluster = {}
    for doc, cl in label.items():
        by_cluster.setdefault(cl, set()).add(doc)
    for cl, members in by_cluster.items():
        assert cl == min(members)  # representative = min member, itself in set
    pairs = registry.QUERIES["dedup_near"](spark, SF_SMALL).collect()
    strong = [(r.doc_a, r.doc_b) for r in pairs if r.jaccard >= CLUSTER_JACCARD]
    assert strong, "fixture has no strong near-dup pairs; test is vacuous"
    for a, b in strong:
        assert label[a] == label[b]


def test_simhash_pairs_complete_vs_bruteforce(spark, registry):
    """Band blocking must be EXACT, not statistical: by pigeonhole,
    any rep pair within hamming <= 3 shares an untouched 8-bit band,
    so the query's pair set must equal the all-pairs brute-force
    filtered by the same cap-aware candidate rule both engines
    apply."""
    from collections import Counter

    from cs686_big_data_p1_spark.operators.llm import (
        MAX_BUCKET_DOCS,
        SIMHASH_MAX_HAMMING,
        SIMHASH_N_BANDS,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    import hashlib as _h

    reps = set()
    seen = {}
    for r in sorted(docs.collect(), key=lambda r: r.doc_id):
        k = _h.md5(r.text.encode()).hexdigest()
        if k not in seen:
            seen[k] = r.doc_id
            reps.add(r.doc_id)
    sims = {
        r.doc_id: r.simhash
        for r in registry.QUERIES["dedup_simhash"](spark, SF_SMALL).collect()
        if r.doc_id in reps
    }
    # The fixture's fingerprints cluster (real corpora do), so some
    # band buckets exceed the cap and are skipped — model the exact
    # cap-aware candidate rule: a pair qualifies iff some shared band
    # sits in a bucket within MAX_BUCKET_DOCS.
    occ = Counter(
        (k, (s >> (8 * k)) & 255)
        for s in sims.values()
        for k in range(SIMHASH_N_BANDS)
    )
    assert max(occ.values()) > MAX_BUCKET_DOCS  # cap is genuinely active

    def candidate(a, b):
        return any(
            (sims[a] >> (8 * k)) & 255 == (sims[b] >> (8 * k)) & 255
            and occ[(k, (sims[a] >> (8 * k)) & 255)] <= MAX_BUCKET_DOCS
            for k in range(SIMHASH_N_BANDS)
        )

    ids = sorted(sims)
    want = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= SIMHASH_MAX_HAMMING
        and candidate(a, b)
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in registry.QUERIES["dedup_simhash_pairs"](
            spark, SF_SMALL
        ).collect()
    }
    assert got == want


def test_allpairs_cosine_prefix_filter_invisible(spark, tmp_path):
    """Planted word sequences: the prefix+length-filtered join must
    equal a brute-force trigram-set cosine computed in pure Python,
    boundary pairs included."""
    import itertools
    import math

    import pandas as pd

    from cs686_big_data_p1_spark.operators.llm import (
        APC_DEN,
        APC_NUM,
        allpairs_cosine,
    )

    w = [f"w{i}" for i in range(60)]
    texts = [
        " ".join(w[:30]),                 # 0
        " ".join(w[:30]),                 # 1: identical to 0
        " ".join(w[:28] + ["x", "y"]),    # 2: shares a long prefix with 0
        " ".join(w[30:60]),               # 3: disjoint
        " ".join(w[:10]),                 # 4: subset run, size-incompatible
        "a b",                            # 5: too short for a trigram
    ]

    def grams(t):
        ws = t.split(" ")
        return {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        } if len(ws) >= 3 else set()

    want = {}
    for a, b in itertools.combinations(range(len(texts)), 2):
        ga, gb = grams(texts[a]), grams(texts[b])
        if not ga or not gb:
            continue
        i_ = len(ga & gb)
        if APC_DEN * i_ * i_ >= APC_NUM * len(ga) * len(gb):
            want[(a, b)] = (i_, i_ / math.sqrt(len(ga) * len(gb)))

    pd.DataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.cosine)
        for r in allpairs_cosine(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(want)
    assert (0, 1) in got and got[(0, 1)][1] == 1.0  # the planted exact dup
    for k, (n, c) in got.items():
        assert n == want[k][0]
        assert abs(c - want[k][1]) < 1e-15


def test_bloom_prefilter_no_false_negatives(spark):
    """The Bloom guarantee that makes the prefilter safe: every batch
    document whose digest IS in the reference set must report
    maybe_seen (no false negatives, ever — planted cross-split
    duplicates); false positives among truly-new digests must stay
    near the design rate (essentially 0 at fixture fill ratio)."""
    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.operators.llm import (
        INCR_SPLIT_DOC_ID,
        bloom_prefilter_frame,
    )

    split = INCR_SPLIT_DOC_ID
    rows = [(i, f"ref doc number {i} with unique words w{i}") for i in range(50)]
    # batch: 10 exact duplicates of reference docs + 40 new docs
    rows += [(split + i, rows[i * 3][1]) for i in range(10)]
    rows += [
        (split + 100 + i, f"new doc {i} never ingested n{i}")
        for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = bloom_prefilter_frame(d).collect()
    assert len(out) == 50  # every batch doc gets a verdict
    ref_digests = {
        r.th
        for r in d.where(F.col("doc_id") < split)
        .select(F.md5(F.col("text").cast("binary")).alias("th"))
        .collect()
    }
    fp = 0
    seen_in_ref = 0
    for r in out:
        if r.text_hash in ref_digests:
            seen_in_ref += 1
            assert r.maybe_seen, f"FALSE NEGATIVE for {r.text_hash}"
        elif r.maybe_seen:
            fp += 1
    assert seen_in_ref == 10  # all planted duplicates flagged
    assert fp <= 2, f"false-positive burst: {fp}"


def test_cluster_rounds_logarithmic_on_chain(spark):
    """VERDICT r12 #5's adversarial fixture: a CHAIN-shaped duplicate
    graph is the worst case for plain min-label propagation
    (O(diameter) rounds — O(n) on a crawl corpus whose near-dup chains
    run long). _cluster_round's pointer-jumping half composes the
    label map with itself each round, so reach grows r -> 2r + 2 and
    the round count must stay logarithmic: dedup_clusters' own loop
    (label_components) must hit the fixpoint on a 512-vertex path
    (diameter 511) within ceil(log2(n)) = 9 rounds, not ~511 — the
    large-star/small-star asymptotics with the oracle-checked
    min-label semantics untouched. With a 3-round budget the same
    chain cannot converge, and the loop must raise rather than return
    stale labels."""
    import math

    from pyspark.sql import functions as F

    from cs686_big_data_p1_spark.operators.llm import label_components

    n = 512
    fwd = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    edges = fwd.union(
        fwd.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint(eager=True)

    labels = label_components(edges, math.ceil(math.log2(n)))
    got = {(r.v, r.label) for r in labels.collect()}
    assert got == {(v, 0) for v in range(n)}  # one component, min label
    with pytest.raises(RuntimeError, match="within 3 rounds"):
        label_components(edges, 3)
