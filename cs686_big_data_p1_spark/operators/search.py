"""Full-text retrieval building blocks: inverted index, BM25 ranking,
and bigram collocation mining over the ``documents`` corpus.

The reference engine stores and checksums opaque chunk bytes
(storage/StorageNode.java chunk paths); it has no text-retrieval
layer. These operators extend the corpus-analytics family
(operators/corpus.py, operators/llm.py) with the search-engine side
of an LLM-data pipeline: building posting lists for corpus inspection
tooling, ranked retrieval for eval-set mining, and collocation
statistics for tokenizer/vocabulary design.

Shared conventions (same as corpus.py):
  * tokenization is a plain space split — bit-identical in Spark
    (`split(text, ' ')`) and DuckDB (`string_split(text, ' ')`);
  * scores use either pure bigint arithmetic or a fixed expression
    tree of correctly-rounded IEEE double ops mirrored verbatim in
    the oracle, then quantize to a 1e-6 fixed-point bigint BEFORE any
    distributed sum, so fold order can never drift the result;
  * every window partitions on a high-cardinality key, and the one
    per-term ranking is two-level (bucketed pre-top-K) so a stopword
    term can't create an unboundedly skewed sort partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..registry import query, track_cache
from ..tables import load_table

# --------------------------------------------------------------------
# inverted_index: capped posting lists per term
# --------------------------------------------------------------------

POSTINGS_K = 10  # postings kept per term (tf DESC, doc_id ASC)
POSTING_BUCKETS = 32  # two-level top-K fanout cap per term

INVERTED_INDEX_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE length(text) > 0
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
ranked AS (
  SELECT doc_id, term, tf,
         CAST(row_number() OVER (
             PARTITION BY term ORDER BY tf DESC, doc_id) AS INTEGER) AS rnk
  FROM tf
)
SELECT r.term, d.df, r.doc_id, r.tf, r.rnk
FROM ranked r JOIN df d ON r.term = d.term
WHERE r.rnk <= {POSTINGS_K}
"""


@query("inverted_index", oracle=INVERTED_INDEX_ORACLE)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index: for every term, its document frequency
    and the top-{POSTINGS_K} postings by term frequency (doc_id
    tie-break) — the structure a corpus-inspection / retrieval tool
    materializes from a crawl.

    The per-term ranking is TWO-LEVEL: a first row_number over
    (term, doc_id % {POSTING_BUCKETS}) discards all but
    {POSTINGS_K} candidates per bucket, then the final per-term
    row_number ranks at most {POSTING_BUCKETS}x{POSTINGS_K} rows.
    Top-K distributes over any partition of its input, so the result
    is identical to the oracle's single window — but a stopword term
    with 10^9 postings sorts as {POSTING_BUCKETS} bounded partitions
    plus one tiny final partition instead of one monster sort
    (the sequence_pack sharding idiom, operators/pipeline.py)."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = track_cache(tf)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pre_w = Window.partitionBy(
        "term", (F.col("doc_id") % POSTING_BUCKETS)
    ).orderBy(F.col("tf").desc(), F.col("doc_id"))
    survivors = (
        tf.withColumn("pre", F.row_number().over(pre_w))
        .where(F.col("pre") <= POSTINGS_K)
        .drop("pre")
    )
    fin_w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id")
    )
    ranked = (
        survivors.withColumn("rnk", F.row_number().over(fin_w).cast("int"))
        .where(F.col("rnk") <= POSTINGS_K)
    )
    return ranked.join(df, "term").select("term", "df", "doc_id", "tf", "rnk")


# --------------------------------------------------------------------
# bm25_search: ranked retrieval with exact cross-engine scoring
# --------------------------------------------------------------------

BM25_TERMS = ("vector", "join", "stream")
BM25_K = 20
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# Per-(doc, term) score, one fixed IEEE-double expression tree —
# written ONCE here and mirrored token-for-token in the Spark code:
#   dl_norm = dl * N / TT          (avgdl division folded into one mul+div)
#   idf     = (N - df + 0.5) / (df + 0.5)      [raw ratio, not ln —
#             same rationale as tfidf_topterms: no libm in the hot path]
#   tfn     = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl_norm))
#   score   = floor(idf * tfn * 1000000.0)     -> bigint micro-units
# The quantized micro-score is summed as a BIGINT, so the distributed
# fold is order-independent and bit-identical to the serial oracle.

BM25_SEARCH_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE length(text) > 0
),
dl AS (SELECT doc_id, len(w) AS dl FROM docs),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM docs)
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         CAST(floor(
           ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(t.tf AS DOUBLE) * 2.2
              / (CAST(t.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75
                          * (CAST(l.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE)
                             / CAST(s.total_tokens AS DOUBLE)))))
           * 1000000.0) AS BIGINT) AS score_u
  FROM tf t
  JOIN df d ON t.term = d.term
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
),
per_doc AS (
  SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_e6
  FROM scored GROUP BY doc_id
)
SELECT doc_id, score_e6,
       CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS INTEGER)
           AS rnk
FROM per_doc
ORDER BY score_e6 DESC, doc_id
LIMIT {BM25_K}
"""


@query("bm25_search", oracle=BM25_SEARCH_ORACLE)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_K} retrieval for the fixed query
    {BM25_TERMS} (k1=1.2, b=0.75), with the RAW-RATIO idf
    ``(N-df+0.5)/(df+0.5)`` instead of its log — the module-header
    expression tree is evaluated identically here and in the oracle,
    each per-(doc,term) double is quantized to 1e-6 BEFORE the
    per-doc sum, and the sum runs in bigints, so the ranking is
    bit-exact across engines and partitionings.

    Scale: the term filter hits the tf aggregation's input (only
    query-term rows shuffle); df is |query| rows and dl joins on
    doc_id (high-cardinality); corpus stats arrive via one broadcast
    1-row crossJoin. The global top-{BM25_K} is orderBy+limit — a
    TakeOrdered over per-partition heaps, never a single-partition
    sort of all candidates; the final row_number runs over
    {BM25_K} rows."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    docs = d.select("doc_id", F.split("text", " ").alias("w"))
    dl = docs.select("doc_id", F.size("w").alias("dl"))
    dl = track_cache(dl)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    tf = (
        docs.select("doc_id", F.explode("w").alias("term"))
        .where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = track_cache(tf)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl_norm = (
        F.col("dl").cast("double") * F.col("n_docs").cast("double")
        / F.col("total_tokens").cast("double")
    )
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    tfn = (
        F.col("tf").cast("double") * F.lit(2.2)
        / (
            F.col("tf").cast("double")
            + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * dl_norm)
        )
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tfn * F.lit(1000000.0)).alias("score_u"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(F.sum("score_u").alias("score_e6"))
    top = per_doc.orderBy(F.col("score_e6").desc(), F.col("doc_id")).limit(
        BM25_K
    )
    rnk_w = Window.orderBy(F.col("score_e6").desc(), F.col("doc_id"))
    return top.withColumn("rnk", F.row_number().over(rnk_w).cast("int"))


# --------------------------------------------------------------------
# collocations_lift: top bigram collocations by exact integer lift
# --------------------------------------------------------------------

COLLOC_MIN_COUNT = 5  # bigram support floor (noise gate)
COLLOC_K = 100
_LIFT_SCALE = 1_000_000

COLLOCATIONS_ORACLE = f"""
WITH wd AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE length(text) > 0
),
uni AS (
  SELECT term, count(*) AS c FROM
    (SELECT unnest(w) AS term FROM wd) GROUP BY term
),
n AS (SELECT sum(c) AS n_tokens FROM uni),
bg AS (
  SELECT p.a, p.b, count(*) AS c_xy FROM
    (SELECT unnest([{{'a': w[i], 'b': w[i+1]}} for i in range(1, len(w))])
         AS p
     FROM wd)
  GROUP BY p.a, p.b
),
lift AS (
  SELECT bg.a AS term_a, bg.b AS term_b, bg.c_xy,
         ua.c AS c_a, ub.c AS c_b,
         CAST((bg.c_xy * n.n_tokens * {_LIFT_SCALE}) // (ua.c * ub.c)
              AS BIGINT) AS lift_e6
  FROM bg
  JOIN uni ua ON bg.a = ua.term
  JOIN uni ub ON bg.b = ub.term
  CROSS JOIN n
  WHERE bg.c_xy >= {COLLOC_MIN_COUNT}
)
SELECT term_a, term_b, c_xy, c_a, c_b, lift_e6
FROM lift
ORDER BY lift_e6 DESC, term_a, term_b
LIMIT {COLLOC_K}
"""


@query("collocations_lift", oracle=COLLOCATIONS_ORACLE)
def collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COLLOC_K} bigram collocations by lift
    ``count(ab) * N / (count(a) * count(b))`` — the tokenizer-design /
    phrase-mining statistic (PMI without the log). The score is pure
    bigint arithmetic: ``c_xy * N * 1e6 // (c_a * c_b)`` floor-divides
    nonnegative int64s identically in both engines, so ranking ties
    cannot drift. int64 headroom: c_xy * N * 1e6 <= 1e17 at sf0.1;
    a 100 TB corpus widens the same formula to decimal(38,0)/HUGEINT.

    Scale: bigrams come from a zip_with over each doc's own token
    array — map-side, zero shuffle to form pairs; the (a, b) count is
    one high-cardinality groupBy; unigram counts are vocabulary-sized
    and BROADCAST into both lift joins; N arrives as a broadcast
    1-row aggregate. The global top-{COLLOC_K} is orderBy+limit
    (TakeOrdered), never a full sort."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    wd = d.select("doc_id", F.split("text", " ").alias("w"))
    uni = (
        wd.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = track_cache(uni)
    n = uni.agg(F.sum("c").alias("n_tokens"))
    pairs = wd.select(
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),"
                " (x, y) -> struct(x AS a, y AS b))"
            )
        ).alias("p")
    )
    bg = pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    ua = uni.select(F.col("term").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("b"), F.col("c").alias("c_b"))
    lift = (
        bg.where(F.col("c_xy") >= COLLOC_MIN_COUNT)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            "c_xy",
            "c_a",
            "c_b",
            F.expr(
                f"(c_xy * n_tokens * {_LIFT_SCALE}) div (c_a * c_b)"
            ).alias("lift_e6"),
        )
    )
    return lift.orderBy(
        F.col("lift_e6").desc(), F.col("term_a"), F.col("term_b")
    ).limit(COLLOC_K)


# --------------------------------------------------------------------
# phrase_search: positional-index exact phrase retrieval
# --------------------------------------------------------------------

PHRASE = ("big", "order", "scan")
_P0, _P1, _P2 = PHRASE


PHRASE_SEARCH_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE length(text) > 0
),
hits AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, t,
               CAST(unnest(generate_series(1, n - 2)) AS INTEGER) AS i
        FROM w WHERE n >= 3)
  WHERE t[i] = '{_P0}' AND t[i+1] = '{_P1}' AND t[i+2] = '{_P2}'
)
SELECT doc_id, count(*) AS n_matches, CAST(min(i) AS INTEGER) AS first_pos
FROM hits GROUP BY doc_id
"""


@query("phrase_search", oracle=PHRASE_SEARCH_ORACLE)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval for the fixed query "{_P0} {_P1} {_P2}"
    via POSITIONAL posting lists — the index shape inverted_index
    lacks (its postings are per-term counts; a phrase needs adjacency,
    i.e. positions). Each phrase term's postings carry (doc_id, pos);
    the phrase match is the n-way positional intersection
    pos, pos+1, pos+2 — the standard phrase-query plan of every
    full-text engine, as two equi-joins on (doc_id, position).

    Overlap semantics: every occurrence counts (a doc with the phrase
    twice reports n_matches=2); first_pos is 1-based to match the
    oracle's array indexing.

    Scale: the posexplode is map-side and the term filter drops every
    posting not in the 3-term phrase BEFORE any shuffle, so the joins
    move only the phrase terms' postings; the join key (doc_id, pos)
    is high-cardinality and unique per posting — no skew even for
    stopword-grade terms, because position disambiguates. The rollup
    map-side combines per doc_id."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    postings = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "term"),
    ).where(F.col("term").isin(*PHRASE))
    t0 = postings.where(F.col("term") == _P0).select(
        "doc_id", (F.col("pos0") + 1).alias("i")
    )
    t1 = postings.where(F.col("term") == _P1).select(
        F.col("doc_id").alias("d1"), (F.col("pos0") + 1).alias("i1")
    )
    t2 = postings.where(F.col("term") == _P2).select(
        F.col("doc_id").alias("d2"), (F.col("pos0") + 1).alias("i2")
    )
    hits = t0.join(
        t1,
        (F.col("doc_id") == F.col("d1")) & (F.col("i1") == F.col("i") + 1),
    ).join(
        t2,
        (F.col("doc_id") == F.col("d2")) & (F.col("i2") == F.col("i") + 2),
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("i").cast("int").alias("first_pos"),
    )


# --------------------------------------------------------------------
# hybrid_search: reciprocal-rank fusion of lexical BM25 and dense kNN
# --------------------------------------------------------------------

RRF_K0 = 60  # the standard RRF dampening constant (Cormack et al. 2009)
RRF_SCALE = 10**12  # fixed-point numerator: contribution = SCALE // (60+r)
HYBRID_QUERY_ID = 0  # the dense leg's query vector (knn fixture split)


def _hybrid_oracle() -> str:
    from .llm import KNN_ORACLE

    return f"""
WITH lex AS ({BM25_SEARCH_ORACLE}),
sem AS (
  SELECT neighbor_id AS doc_id, rank AS sem_rank
  FROM ({KNN_ORACLE}) WHERE query_id = {HYBRID_QUERY_ID}
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.rnk AS lex_rnk, s.sem_rank,
         COALESCE({RRF_SCALE} // ({RRF_K0} + l.rnk), 0)
           + COALESCE({RRF_SCALE} // ({RRF_K0} + s.sem_rank), 0) AS rrf_e12
  FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
)
SELECT doc_id, CAST(lex_rnk AS INTEGER) AS lex_rnk,
       CAST(sem_rank AS INTEGER) AS sem_rank,
       CAST(rrf_e12 AS BIGINT) AS rrf_e12,
       CAST(row_number() OVER (ORDER BY rrf_e12 DESC, doc_id) AS INTEGER)
           AS rnk
FROM fused
"""


@query("hybrid_search", oracle=_hybrid_oracle())
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (VERDICT r8 #7):
    the BM25 top-{BM25_K} lexical list and the dense top-k cosine
    list for query vector {HYBRID_QUERY_ID} (doc_id == vec_id, the
    doc_embedding_join contract), fused by RRF with the standard
    k0={RRF_K0}: score(d) = sum over legs of 1/(k0 + rank_d). Each
    reciprocal is the BIGINT floor {RRF_SCALE} // (k0 + rank) — with
    rank <= 65 the quantization error is < 1e-10 of the true
    reciprocal while making the fusion score pure integer arithmetic,
    so ranking is bit-exact across engines (both legs' oracles nest
    verbatim).

    Scale: both legs are already-audited bounded pipelines whose
    outputs are top-K-sized; the fusion is a full outer join and one
    window over <= (len(lex) + len(sem)) rows — constant, never
    corpus-sized. More legs (more queries, more retrievers) fuse by
    the same union-of-constant-lists shape."""
    from .llm import knn_bruteforce

    lex = bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("lex_rnk")
    )
    sem = (
        knn_bruteforce(spark, sf_dir)
        .where(F.col("query_id") == HYBRID_QUERY_ID)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("sem_rank"),
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.col("lex_rnk").cast("int").alias("lex_rnk"),
        F.col("sem_rank").cast("int").alias("sem_rank"),
        (
            F.coalesce(
                F.expr(f"{RRF_SCALE} div ({RRF_K0} + lex_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_SCALE} div ({RRF_K0} + sem_rank)"), F.lit(0)
            )
        ).cast("bigint").alias("rrf_e12"),
    )
    w = Window.orderBy(F.col("rrf_e12").desc(), F.col("doc_id"))
    return fused.withColumn("rnk", F.row_number().over(w).cast("int"))


# --------------------------------------------------------------------
# mmr_rerank: maximal-marginal-relevance diversified top-k
# --------------------------------------------------------------------
#
# MMR (Carbonell & Goldstein, SIGIR 1998): greedily re-rank a
# retrieval candidate list so each pick maximizes
#   lambda * relevance(d) - (1 - lambda) * max_{s in picked} sim(d, s)
# — the standard redundancy-removal pass between retrieval and a
# context window (and the same shape as facility-location coreset
# selection over training data). lambda = 0.7 at integer scale 10:
#   mmr_e6 = 7 * rel_e6 - 3 * max(sim_e6)
# with rel_e6 = the BM25 micro-score and sim_e6 = floor(cosine * 1e6)
# from the engine-standard fixed-point dot/norm folds, so every
# comparison in the greedy argmax is over bigints (ties on doc_id)
# and the whole trajectory replays bit-identically in DuckDB via an
# unrolled CTE chain (the bpe_merges pattern applied to selection).

MMR_K = 5
_MMR_REL_W = 7   # lambda numerator at scale 10
_MMR_SIM_W = 3   # (1 - lambda) numerator


def _mmr_oracle() -> str:
    steps = []
    prev = "p1"
    for i in range(2, MMR_K + 1):
        steps.append(
            f"""
m{i} AS (
  SELECT t.doc_id, t.rel_e6,
         CAST({_MMR_REL_W} * t.rel_e6
              - {_MMR_SIM_W} * max(s.sim_e6) AS BIGINT) AS mmr_e6
  FROM cands t
  JOIN sims s ON s.da = t.doc_id
             AND s.db IN (SELECT doc_id FROM {prev})
  WHERE t.doc_id NOT IN (SELECT doc_id FROM {prev})
  GROUP BY t.doc_id, t.rel_e6
),
s{i} AS (SELECT doc_id, rel_e6, mmr_e6 FROM m{i}
         ORDER BY mmr_e6 DESC, doc_id LIMIT 1),
p{i} AS (SELECT doc_id FROM {prev} UNION ALL SELECT doc_id FROM s{i})"""
        )
        prev = f"p{i}"
    chain = ",".join(steps)
    picks = "\nUNION ALL\n".join(
        [
            f"SELECT CAST(1 AS INTEGER) AS pick, doc_id, rel_e6,"
            f" CAST({_MMR_REL_W} * rel_e6 AS BIGINT) AS mmr_e6 FROM s1"
        ]
        + [
            f"SELECT CAST({i} AS INTEGER), doc_id, rel_e6, mmr_e6 FROM s{i}"
            for i in range(2, MMR_K + 1)
        ]
    )
    return f"""
WITH cands AS (
  SELECT doc_id, score_e6 AS rel_e6 FROM ({BM25_SEARCH_ORACLE})
),
ex AS (
  SELECT vec_id, i, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
  WHERE vec_id IN (SELECT doc_id FROM cands)
),
nrm AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
             AS nn
  FROM ex GROUP BY vec_id
),
dots AS (
  SELECT a.vec_id AS da, b.vec_id AS db,
         CAST(sum(CAST(floor(a.x * b.x * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
             AS dt
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
sims AS (
  SELECT da, db,
         CAST(floor(d.dt / (na.nn * nb.nn) * 1000000.0) AS BIGINT) AS sim_e6
  FROM dots d
  JOIN nrm na ON na.vec_id = d.da
  JOIN nrm nb ON nb.vec_id = d.db
),
s1 AS (SELECT doc_id, rel_e6 FROM cands ORDER BY rel_e6 DESC, doc_id LIMIT 1),
p1 AS (SELECT doc_id FROM s1),
{chain}
{picks}
"""


@query("mmr_rerank", oracle=_mmr_oracle())
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{MMR_K} over the BM25 top-{BM25_K} (see
    module comment: integer-exact lambda=0.7 greedy, sim = fixed-point
    embedding cosine, doc_id == vec_id per the doc_embedding_join
    contract). Emits (pick, doc_id, rel_e6, mmr_e6), pick = selection
    order.

    Scale: the candidate list is top-{BM25_K} REGARDLESS of corpus
    size (bm25_search is the audited bounded pipeline), so everything
    downstream — the {BM25_K}x{BM25_K} cosine matrix (broadcast
    nested-loop over two {BM25_K}-row cached frames), the {MMR_K}
    greedy rounds (each an argmax over <= {BM25_K} rows,
    localCheckpoint-cut like dedup_clusters' loop) — is O(K^2 + K*k)
    driver-coordinated control flow over constant-size frames; the
    corpus is touched exactly once, inside bm25_search. The greedy
    chain replays in DuckDB as unrolled CTEs, so the full selection
    trajectory is hash-exact."""
    from ..functions.vector import dot as v_dot
    from ..functions.vector import norm as v_norm

    cands = track_cache(
        bm25_search(spark, sf_dir).select(
            "doc_id", F.col("score_e6").alias("rel_e6")
        )
    )
    e = load_table(spark, sf_dir, "embeddings")
    ce = track_cache(
        e.join(
            cands.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        ).select("vec_id", "embedding", v_norm(F.col("embedding")).alias("nn"))
    )
    a = ce.select(
        F.col("vec_id").alias("da"),
        F.col("embedding").alias("ea"),
        F.col("nn").alias("na_"),
    )
    bside = ce.select(
        F.col("vec_id").alias("db"),
        F.col("embedding").alias("eb"),
        F.col("nn").alias("nb_"),
    )
    sims = track_cache(
        a.crossJoin(F.broadcast(bside))
        .where(F.col("da") != F.col("db"))
        .select(
            "da",
            "db",
            F.floor(
                v_dot(F.col("ea"), F.col("eb"))
                / (F.col("na_") * F.col("nb_"))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("sim_e6"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("pick", T.IntegerType(), False),
            cands.schema["doc_id"],
            cands.schema["rel_e6"],
            T.StructField("mmr_e6", T.LongType(), False),
        ]
    )
    # Greedy selection runs DRIVER-SIDE over two bounded collects
    # (<= {BM25_K} candidate rows + <= {BM25_K}^2 sim rows — control
    # flow, not data; the corpus was touched exactly once inside
    # bm25_search and the cosine matrix was computed distributed
    # above). The old per-round eager-localCheckpoint chain serialized
    # MMR_K job round-trips of <= 1 row each — measured 35 driver jobs
    # and a 1.9 s floor; the recurrence itself is exact bigint
    # arithmetic either way (Python ints ARE the integers Spark's
    # bigint ops compute), and the DuckDB oracle replays the identical
    # trajectory, so the hash pins the rewrite (r16, guide §5 — the
    # collect is K-bounded, never corpus-bounded).
    rel = {r["doc_id"]: r["rel_e6"] for r in cands.collect()}
    if not rel:  # no BM25 candidate: nothing to rerank
        return spark.createDataFrame([], out_schema)
    sim: dict = {}
    for r in sims.collect():
        sim.setdefault(r["da"], {})[r["db"]] = r["sim_e6"]
    first_id = min(rel, key=lambda d: (-rel[d], d))
    picks = [(1, first_id, rel[first_id], _MMR_REL_W * rel[first_id])]
    sel = [first_id]
    for i in range(2, MMR_K + 1):
        best = None
        for d, rv in rel.items():
            if d in sel:
                continue
            # inner-join faithfulness: a candidate with no sim row to
            # any selected doc was dropped by the old msim join too
            edges = [sim[d][s] for s in sel if s in sim.get(d, {})]
            if not edges:
                continue
            score = _MMR_REL_W * rv - _MMR_SIM_W * max(edges)
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d, rv, score)
        if best is None:
            # no candidate has a sim edge to the selected set (e.g.
            # the top BM25 hit carries no embedding): the round emits
            # nothing and the selection is unchanged — exactly the old
            # inner-join-with-empty-msim behavior and the oracle's
            # s{i}-empty CTE (the sf0.1 fixture exercises this: the
            # swept result is 1 row there).
            continue
        picks.append((i, best[1], best[2], best[3]))
        sel.append(best[1])
    return spark.createDataFrame(picks, out_schema)
