"""LLM training-data operator catalog: dedup, similarity search,
text analysis, multimodal plumbing — over the ``documents`` and
``embeddings`` tables.

Oracle-checkable where the math is engine-portable (exact dedup,
n-gram Jaccard, cosine similarity, text heuristics, fingerprints,
sha256 metadata). MinHash/SimHash/LSH signatures hash with Spark's
``xxhash64`` (no DuckDB equivalent) → rows-only driver check, plus
property tests in tests/ (LSH candidates ⊇ high-Jaccard pairs).
"""

from __future__ import annotations

from itertools import combinations as _combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trisk_datawrangle_spark.llm.dedup import (
    contamination_overlap,
    ngram_jaccard_pairs,
)
from trisk_datawrangle_spark.llm.similarity import (
    cosine_topk,
    cosine_topk_vectorized,
    ivf_pq_topk,
    ivf_topk,
    lsh_bucket_topk,
    rescore_topk,
)
from trisk_datawrangle_spark.llm.text import (
    EMAIL_RX,
    IPV4_RX,
    LANG_MARKERS,
    PHONE_RX,
    SPACE_RX,
    URL_RX,
    lang_id,
    fingerprint,
    normalize_text,
    quality_score,
    repetition_table,
    token_count,
    tokenize,
)
from trisk_datawrangle_spark.llm.multimodal import (
    decode_metadata,
    extract_features,
    resize_media,
    with_binary_payload,
)
from trisk_datawrangle_spark.llm.politeness import (
    DEFAULT_CRAWL_DELAY,
    politeness_schedule,
    recrawl_staleness,
)
from trisk_datawrangle_spark.llm.robots import robots_verdict
from trisk_datawrangle_spark.sources.readers import fan_out_scan, load_tables

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"]


def _embs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["embeddings"])["embeddings"]


# ---------------------------------------------------------------- #
# dedup                                                             #
# ---------------------------------------------------------------- #


@q(
    "d1_exact_dedup",
    """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
""",
)
def d1(spark, sf_dir):
    """Exact dedup by full content (the library's scale variant
    groups on xxhash64(text) — same result, narrower shuffle)."""
    return _docs(spark, sf_dir).groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


def _jaccard_pairs_sql(threshold: float, source: str = "documents") -> str:
    """Exact word-3-gram Jaccard pair SQL at a given threshold over a
    (doc_id, text) relation — the shared oracle for the whole dedup
    ladder (d2 exact, d3 MinHash-LSH verified, d4 SimHash verified,
    c2's near-dup removal stage)."""
    return f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM {source}
), grams AS (
    SELECT DISTINCT doc_id,
        array_to_string(words[i:i+2], ' ') AS gram
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
          FROM toks)
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
    ROUND(c.n_common / (sa.n_grams + sb.n_grams - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.n_common / (sa.n_grams + sb.n_grams - c.n_common) >= {threshold}
"""


@q(
    "d2_ngram_jaccard",
    """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT DISTINCT doc_id,
        array_to_string(words[i:i+2], ' ') AS gram
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
          FROM toks)
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1
), common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
    ROUND(c.n_common / (sa.n_grams + sb.n_grams - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.n_common / (sa.n_grams + sb.n_grams - c.n_common) >= 0.12
""",
)
def d2(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs via the EXHAUSTIVE
    co-shingle join — the opt-in oracle tier (exhaustive=True; since
    r9 the public name auto-routes t ≥ 0.7 to the lossless prefix
    tier and refuses unbounded low-t calls, so this quadratic plan
    is only reachable knowingly). Kept at t=0.12 precisely because
    the low-threshold band is the one only this tier serves."""
    pairs = ngram_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.12,
        exhaustive=True,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@q("d16_prefix_filter_jaccard", _jaccard_pairs_sql(0.8))
def d16(spark, sf_dir):
    """PPJoin-style prefix+positional-filtered EXACT Jaccard pairs at
    the standard near-dup threshold t=0.8 — lossless (oracle = the
    exhaustive pair SQL at 0.8), with candidate volume bounded by the
    filters instead of the co-shingle k² blowup that makes d2 a
    labeled quadratic tier. The exact-tier scale path at 100 TB when
    MinHash recall bounds aren't acceptable; for t ≤ ~0.5 use d3
    (see the threshold-guidance note in
    ``llm/dedup.py:ngram_jaccard_prefix_pairs``)."""
    from trisk_datawrangle_spark.llm.dedup import ngram_jaccard_prefix_pairs

    pairs = ngram_jaccard_prefix_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.8
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@q("d3_minhash_lsh", _jaccard_pairs_sql(0.5))
def d3(spark, sf_dir):
    """MinHash-LSH candidates + exact-Jaccard verification: the
    internal hashing (xxhash64 signatures, banded buckets) has no SQL
    equivalent, but the *verified output* — pairs with true word-3-gram
    Jaccard ≥ 0.5 — is the oracle-expressible exact result, so the
    whole scale path (shingle → sign → band → bucket join → verify)
    hash-checks against DuckDB. Threshold 0.5 sits in the corpus's
    dup/background margin (dups ≥ 0.8, background ≤ 0.14 at every sf);
    32 bands × 2 rows puts a j=0.8 pair's miss probability at
    (1-0.64)^32 ≈ 6e-15. Any miss surfaces as a row-count mismatch,
    not silently."""
    from trisk_datawrangle_spark.llm.dedup import minhash_lsh_dedup_pairs

    pairs = minhash_lsh_dedup_pairs(
        _docs(spark, sf_dir), num_hashes=64, bands=32, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@q("d4_simhash", _jaccard_pairs_sql(0.5))
def d4(spark, sf_dir):
    """SimHash near-dup pairs, exact-verified: 64-bit per-bit-popcount
    signatures (explode+aggregate), bucketed into 16 contiguous 4-bit
    bands — pairs within Hamming < 16 are *guaranteed* to share a band
    (pigeonhole), covering a 0.8-Jaccard dup's bit noise; random band
    collisions are killed by exact verification at threshold 0.5 —
    same hard oracle as d3. 4-bit bands are the verified-oracle
    configuration (small bucket space → more candidates); at corpus
    scale use 8-bit bands + a bit_count(xor) pre-filter. The raw
    signature table (incl. featureless-doc handling) stays covered by
    tests/test_llm_properties.py."""
    from trisk_datawrangle_spark.llm.dedup import simhash_dedup_pairs

    pairs = simhash_dedup_pairs(
        _docs(spark, sf_dir), ngram=3, bands=16, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@q(
    "d5_embedding_dups",
    """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ROUND(list_dot_product(a.v, b.v)
        / (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12)
           * greatest(sqrt(list_dot_product(b.v, b.v)), 1e-12)), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12)
           * greatest(sqrt(list_dot_product(b.v, b.v)), 1e-12)) >= 0.45
""",
)
def d5(spark, sf_dir):
    """Embedding-cosine high-similarity pairs via the blocked
    self-GEMM — exact all-pairs with no driver-side corpus collect or
    broadcast (each block-pair group GEMMs independently;
    ``cosine_pairs_vectorized`` remains the small-corpus verifier,
    the LSH-bucketed approximate path is s2). Threshold 0.45: the
    synthetic embeddings top out near cosine 0.6, and a 0.92 gate
    returned zero rows — an empty result set correctness-gates
    nothing (nearest boundary pair sits 5.5e-4 away, far above
    summation-order noise)."""
    from trisk_datawrangle_spark.llm.similarity import cosine_pairs_blocked

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    pairs = cosine_pairs_blocked(e, threshold=0.45)
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


def _kmeans_ctes_sql(k: int, n_iter: int, dim: int = 64) -> str:
    """Unrolled integer-exact Lloyd's k-means (llm/clustering.py
    contract): quantize once, then every iteration is an exact-BIGINT
    distance argmin + an exact integer center re-quantization — no
    float aggregate anywhere, so the assignment is bit-identical
    across engines by construction."""
    rq = ("CASE WHEN s >= 0 THEN (2*s + n) // (2*n) "
          "ELSE -((2*(-s) + n) // (2*n)) END")
    parts = [f"""
WITH q AS (
    SELECT vec_id AS id,
        list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        ) AS qv
    FROM embeddings
),
c0 AS (
    SELECT rn - 1 AS j, qv AS cv
    FROM (SELECT qv, row_number() OVER (ORDER BY id) AS rn FROM q)
    WHERE rn <= {k}
)"""]
    for it in range(1, n_iter):
        prev = f"c{it - 1}"
        parts.append(f""",
d{it} AS (
    SELECT q.id, c.j,
        SUM((q.qv[t.i] - c.cv[t.i]) * (q.qv[t.i] - c.cv[t.i])) AS d
    FROM q CROSS JOIN {prev} c, unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY q.id, c.j
),
a{it} AS (
    SELECT id, j FROM (
        SELECT id, j,
            row_number() OVER (PARTITION BY id ORDER BY d, j) AS rn
        FROM d{it}) WHERE rn = 1
),
s{it} AS (
    SELECT a.j, t.i, SUM(q.qv[t.i]) AS s, COUNT(*) AS n
    FROM a{it} a JOIN q USING (id),
        unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY a.j, t.i
),
c{it}n AS (
    SELECT j, list({rq} ORDER BY i) AS cv FROM s{it} GROUP BY j
),
c{it} AS (
    SELECT p.j, coalesce(cn.cv, p.cv) AS cv
    FROM {prev} p LEFT JOIN c{it}n cn ON p.j = cn.j
)""")
    last = f"c{n_iter - 1}"
    parts.append(f""",
df AS (
    SELECT q.id, c.j,
        SUM((q.qv[t.i] - c.cv[t.i]) * (q.qv[t.i] - c.cv[t.i])) AS d
    FROM q CROSS JOIN {last} c, unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY q.id, c.j
),
kfin AS (
    SELECT id, j, d FROM (
        SELECT id, j, d,
            row_number() OVER (PARTITION BY id ORDER BY d, j) AS rn
        FROM df) WHERE rn = 1
)""")
    return "".join(parts)



def _d14_sql(k: int = 8, n_iter: int = 2, threshold: float = 0.45) -> str:
    """SemDeDup oracle FOR THE DEFAULT CLUSTERED TIER: the x31
    integer-exact k-means CTEs, cosine pairs restricted to within
    each k-means cell, collapsed to components (recursive CTE,
    min-label) with a min-id canonical per semantic cluster —
    replays the Spark default tier bit-for-bit (cluster assignment
    is integer-exact; the cosine gate is the same left-to-right
    double fold)."""
    ctes = _kmeans_ctes_sql(k, n_iter).replace(
        "WITH q AS", "WITH RECURSIVE q AS", 1
    )
    return ctes + f""",
ev AS (
    SELECT vec_id AS id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
nv AS (
    SELECT ev.id, v,
        greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n,
        kfin.j AS cluster
    FROM ev JOIN kfin ON ev.id = kfin.id
),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM nv a JOIN nv b ON a.cluster = b.cluster AND a.id < b.id
    WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= {threshold}
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
lbl(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM lbl GROUP BY node),
clusters AS (
    SELECT e2.vec_id, COALESCE(c.comp, e2.vec_id) AS cluster_id
    FROM embeddings e2 LEFT JOIN comp c ON e2.vec_id = c.node
)
SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
    CAST(vec_id = MIN(vec_id) OVER (PARTITION BY cluster_id)
        AS BOOLEAN) AS keep
FROM clusters
"""


@q("d14_semantic_dedup", _d14_sql())
def d14(spark, sf_dir):
    """Semantic dedup end-to-end (the SemDeDup shape: Abbas et al.
    2023, arXiv:2303.09540) THROUGH THE DEFAULT CLUSTERED TIER
    (llm/clustering.py semantic_dedup): integer-exact k-means first,
    cosine pairs ONLY within each cluster, components, one
    representative kept per semantic cluster (min id — swap a
    quality argmax per c3 for curated corpora). Every vector gets
    (cluster_id, keep) — the keep-list IS the deduplicated corpus.
    Since r8 the named operator defaults to the cluster-bounded
    scale path (r7 verdict #2; pair volume bounded by cell size,
    measured 1.6× per 10× at sf10) — the all-pairs blocked GEMM is
    ``pair_tier="exact"``, opt-in, oracle-gated through d5. The
    oracle replays the SAME clustered computation (x31's k-means
    CTEs), so the default tier is hash-gated directly, not via the
    exact tier's answer."""
    from trisk_datawrangle_spark.llm.clustering import semantic_dedup

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    out = semantic_dedup(
        e, "embedding", "vec_id", threshold=0.45,
        pair_tier="clustered", k=8, n_iter=2,
    )
    return out.select(
        F.col("id").alias("vec_id"), "cluster_id", "keep"
    )


# ---------------------------------------------------------------- #
# similarity search                                                 #
# ---------------------------------------------------------------- #


@q(
    "s1_cosine_topk",
    """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
    SELECT vec_id, v FROM e WHERE vec_id < 10
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
            / (greatest(sqrt(list_dot_product(q.v, q.v)), 1e-12)
               * greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12)) AS cosine
    FROM e c CROSS JOIN q
    WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= 5
""",
)
def s1(spark, sf_dir):
    e = _embs(spark, sf_dir)
    res = cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "s3_cosine_topk_vectorized",
    ORACLES["s1_cosine_topk"],
)
def s3(spark, sf_dir):
    """Scale-path brute-force ANN: numpy GEMM over Arrow batches with
    per-partition partial top-k (same contract and oracle as s1 —
    rounded to 4 decimals the summation-order difference vanishes)."""
    e = _embs(spark, sf_dir)
    res = cosine_topk_vectorized(e, e.filter(F.col("vec_id") < 10), k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


def _s2_sql() -> str:
    """Oracle for the hyperplane-LSH top-k: the bucketing is a pure
    deterministic function (sign bits of dot products with fixed
    pseudo-random planes — llm/similarity.py:_hyperplanes), so the
    *approximate* semantics are themselves SQL-expressible: embed the
    identical plane literals and replay bucket → candidate join →
    exact rank in DuckDB. The corpus embedding dim is 64 (all sf
    dirs); a dim drift would fail loudly as an all-rows bucket
    mismatch."""
    from trisk_datawrangle_spark.llm.similarity import _hyperplanes

    planes = _hyperplanes(64, 8)
    bits = " || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(x) for x in plane)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
    SELECT vec_id, v, {bits} AS bucket FROM e
), q AS (
    SELECT vec_id, v, bucket FROM b WHERE vec_id < 10
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
            / (greatest(sqrt(list_dot_product(q.v, q.v)), 1e-12)
               * greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12)) AS cosine
    FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= 5
"""


@q("s2_lsh_bucket_topk", _s2_sql())
def s2(spark, sf_dir):
    e = _embs(spark, sf_dir)
    res = lsh_bucket_topk(e, e.filter(F.col("vec_id") < 10), k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "s4_ivf_topk",
    ORACLES["s1_cosine_topk"],
)
def s4(spark, sf_dir):
    """IVF index probed at full width (n_probe = n_cells) recovers
    exact brute force — so the s1 oracle checks the whole IVF path
    (train → assign → probe → score); recall-vs-n_probe behavior is
    property-tested in tests/test_similarity_ivf.py."""
    e = _embs(spark, sf_dir)
    res = ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=16
    )
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "s5_ivf_pq_topk",
    ORACLES["s1_cosine_topk"],
)
def s5(spark, sf_dir):
    """IVF-PQ compressed tier + exact-rescore refine, driven to exact
    recovery: probing every cell (n_probe = n_cells) makes the ADC
    stage propose EVERY (query, corpus) pair exactly once, and the
    rescore stage re-ranks those candidates by exact cosine — so the
    two-stage retrieval pipeline (encode → probe → ADC score →
    candidate equi-join → exact re-rank) must reproduce s1's
    brute-force oracle bit-for-bit at 4 decimals. This gates the
    whole compressed-index code path (llm/similarity.py:590,738)
    the same way full-probe gates s4; recall-vs-parameters behavior
    stays property-tested in tests/test_similarity_ivf.py."""
    e = _embs(spark, sf_dir)
    qd = e.filter(F.col("vec_id") < 10)
    # k larger than any corpus: keep ALL ADC-ranked candidates so the
    # rescore sees the complete pair set (full-probe ⇒ each corpus
    # vector is a candidate exactly once per query)
    cand = ivf_pq_topk(
        e, qd, k=2_000_000_000, n_cells=16, n_probe=16, m=8,
        ranked=False,  # every pair feeds the exact rescore (r12)
    )
    res = rescore_topk(cand, e, qd, k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "s6_pq_recall",
    """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
    SELECT vec_id, v FROM e WHERE vec_id < 10
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
            / (greatest(sqrt(list_dot_product(q.v, q.v)), 1e-12)
               * greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12)) AS cosine
    FROM e c CROSS JOIN q
    WHERE c.vec_id <> q.vec_id
), ranked AS (
    SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
    CAST(SUM(CASE WHEN rank = 1 THEN neighbor_id ELSE 0 END) AS BIGINT)
        AS true_top1_sum,
    TRUE AS recall_ok
FROM ranked WHERE rank <= 5
""",
)
def s6(spark, sf_dir):
    """ADC-only recall gate (the e6 pattern: SQL-computable ground
    truth anchors + a boolean accuracy flag the oracle asserts TRUE):
    IVF-PQ at REALISTIC pruned settings (n_probe=8 of 16 cells, m=8
    → 8-byte codes) proposes 40 candidates per query, exact-rescore
    keeps its top 5, and ``recall_ok`` asserts aggregate recall@5
    over the 10 probe queries ≥ 0.5. The shipped corpora are
    near-uniform random vectors — ANN's adversarial worst case (no
    cluster structure for IVF, no subspace correlation for PQ) — and
    still measure 0.74/0.86/0.90 at sf0.1/0.01/0.001, so the 0.5 bar
    has ≥1.48× margin everywhere (margin-scanned in
    tests/test_similarity_ivf.py). A broken quantizer, probe join,
    or rescore stage flips the flag and hash-mismatches the driver
    gate; the anchors (query count, sum of true top-1 ids) pin the
    exact side."""
    e = _embs(spark, sf_dir)
    qd = e.filter(F.col("vec_id") < 10)
    truth = cosine_topk(e, qd, k=5)
    approx = rescore_topk(
        ivf_pq_topk(e, qd, k=40, n_cells=16, n_probe=8, m=8),
        e,
        qd,
        k=5,
    )
    scored = truth.join(
        approx.select("query_id", "neighbor_id").withColumn(
            "__hit", F.lit(1)
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return scored.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.sum(
            F.when(F.col("rank") == 1, F.col("neighbor_id")).otherwise(
                F.lit(0)
            )
        ).alias("true_top1_sum"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            >= 0.5 * F.count(F.lit(1))
        ).alias("recall_ok"),
    )


@q("s9_sq8_recall", ORACLES["s6_pq_recall"])
def s9_sq8(spark, sf_dir):
    """int8 scalar-quantized ANN: candidates scored on the 4×-
    compressed reconstruction, exact rescore on the originals — the
    quantize→route→rescore serving contract at the cheapest codec
    tier (see ``llm/decomposition.py:scalar_quantize_roundtrip``).
    Same recall-gate oracle as s6; int8 reconstruction error is tiny
    relative to cosine gaps, so recall@5 is near-1 at every sf."""
    from trisk_datawrangle_spark.llm.decomposition import (
        scalar_quantize_roundtrip,
    )

    e = _embs(spark, sf_dir)
    sq = scalar_quantize_roundtrip(e, "embedding", "sq", bits=8)
    approx_space = sq.select(
        "vec_id", F.col("sq").alias("embedding")
    )
    qd_sq = approx_space.filter(F.col("vec_id") < 10)
    qd = e.filter(F.col("vec_id") < 10)
    cand = cosine_topk(approx_space, qd_sq, k=40)
    approx = rescore_topk(
        cand.select("query_id", "neighbor_id"), e, qd, k=5
    )
    truth = cosine_topk(e, qd, k=5)
    scored = truth.join(
        approx.select("query_id", "neighbor_id").withColumn(
            "__hit", F.lit(1)
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return scored.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.sum(
            F.when(F.col("rank") == 1, F.col("neighbor_id")).otherwise(
                F.lit(0)
            )
        ).alias("true_top1_sum"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            >= 0.5 * F.count(F.lit(1))
        ).alias("recall_ok"),
    )


@q("s8_pca_ivf_recall", ORACLES["s6_pq_recall"])
def s8_pca(spark, sf_dir):
    """Dim-reduced ANN: PCA 64→16 (distributed gramian → driver
    eigh, ``llm/decomposition.py``) in front of IVF candidate
    generation, exact rescore on the ORIGINAL vectors — the standard
    big-corpus recipe (project to a cheap space to route, score in
    the true space). Same recall-gate contract and oracle as s6:
    SQL-computable anchors + a boolean the oracle asserts TRUE;
    recall@5 ≥ 0.5 over the 10 probe queries despite the 2× dim cut
    on adversarially-uniform vectors (no covariance structure — PCA's
    worst case; measured 0.88/0.98/1.00 at sf0.1/0.01/0.001 with this
    config, ≥1.76× margin on the bar)."""
    from trisk_datawrangle_spark.llm.decomposition import pca_project
    from trisk_datawrangle_spark.llm.similarity import ivf_topk

    e = _embs(spark, sf_dir)
    proj = pca_project(e, k=32).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    qd_proj = proj.filter(F.col("vec_id") < 10)
    qd = e.filter(F.col("vec_id") < 10)
    cand = ivf_topk(
        proj, qd_proj, k=160, n_cells=16, n_probe=12
    )
    approx = rescore_topk(
        cand.select("query_id", "neighbor_id"), e, qd, k=5
    )
    truth = cosine_topk(e, qd, k=5)
    scored = truth.join(
        approx.select("query_id", "neighbor_id").withColumn(
            "__hit", F.lit(1)
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return scored.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.sum(
            F.when(F.col("rank") == 1, F.col("neighbor_id")).otherwise(
                F.lit(0)
            )
        ).alias("true_top1_sum"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            >= 0.5 * F.count(F.lit(1))
        ).alias("recall_ok"),
    )


@q(
    "s7_ivf_pq_persisted",
    ORACLES["s1_cosine_topk"],
)
def s7_pq(spark, sf_dir):
    """Persisted-index ANN lifecycle (llm/pq_index.py): train + encode
    + WRITE the IVF-PQ index to disk (codes partitioned by cell, model
    as parquet tables), then serve the query batch from the STORED
    index with cell-pruned reads — the s5 exact-recovery drive
    (full probe + exact rescore) through the persisted path, so the
    whole write→load→probe lifecycle must reproduce s1's brute-force
    oracle bit-for-bit at 4 decimals."""
    import tempfile

    from trisk_datawrangle_spark.llm.pq_index import (
        ivf_pq_index_topk,
        write_ivf_pq_index,
    )

    e = _embs(spark, sf_dir)
    qd = e.filter(F.col("vec_id") < 10)
    path = tempfile.mkdtemp(prefix="pq_index_") + "/idx"
    write_ivf_pq_index(e, path, n_cells=16, m=8)
    cand = ivf_pq_index_topk(
        spark, path, qd, k=2_000_000_000, n_probe=16
    )
    res = rescore_topk(cand, e, qd, k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------- #
# text analysis                                                     #
# ---------------------------------------------------------------- #

_LANG_SQL_SCORES = {
    lang: " + ".join(
        f"(len(string_split(' ' || lower(text) || ' ', ' {m} ')) - 1)"
        for m in markers
    )
    for lang, markers in LANG_MARKERS.items()
}

_LANG_SQL = f"""
SELECT doc_id, CASE
    WHEN best <= 0 THEN 'und'
    WHEN s_en = best THEN 'en'
    WHEN s_fr = best THEN 'fr'
    WHEN s_de = best THEN 'de'
    WHEN s_es = best THEN 'es'
    ELSE 'und' END AS lang_pred
FROM (
    SELECT doc_id, s_en, s_fr, s_de, s_es,
           greatest(s_en, s_fr, s_de, s_es) AS best
    FROM (
        SELECT doc_id,
            {_LANG_SQL_SCORES['en']} AS s_en,
            {_LANG_SQL_SCORES['fr']} AS s_fr,
            {_LANG_SQL_SCORES['de']} AS s_de,
            {_LANG_SQL_SCORES['es']} AS s_es
        FROM documents
    )
)
"""


@q("x1_lang_id", _LANG_SQL)
def x1(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", lang_id("text").alias("lang_pred")
    )


_STOPLIST = [w for ws in LANG_MARKERS.values() for w in ws]
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPLIST)

_TOKEN_STATS_SQL = f"""
SELECT doc_id,
    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
        AS INTEGER) AS n_ws,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
        AS INTEGER) AS n_bpe,
    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x <> '')) AS INTEGER) AS n_words
FROM documents
"""


@q("x2_token_stats", _TOKEN_STATS_SQL)
def x2(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count("text", "ws").alias("n_ws"),
        token_count("text", "bpe").alias("n_bpe"),
        F.size(tokenize("text")).alias("n_words"),
    )


_QUALITY_SQL = f"""
WITH feat AS (
    SELECT doc_id,
        length(text) AS n,
        len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS n_words,
        len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> list_contains([{_STOP_SQL}], x))) AS n_stop,
        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
    FROM documents
)
SELECT doc_id, ROUND((
    (CASE WHEN n >= 100 AND n <= 10000 THEN 1.0 ELSE 0.5 END)
    + (CASE WHEN (CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END) <= 0.1
        THEN 1.0 ELSE 0.3 END)
    + (CASE WHEN (CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END)
        >= 0.05 THEN 1.0 ELSE 0.6 END)
) / 3.0, 6) AS quality
FROM feat
"""


@q("x3_quality_score", _QUALITY_SQL)
def x3(spark, sf_dir):
    # gated fan-out (r12, guide §2.5): the let-bound quality score is
    # interpreted per row (array lambdas disable codegen) and the
    # single-file scan is one task; spread it like x4's fingerprint
    d = fan_out_scan(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    return d.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )


@q(
    "x43_source_copy_matrix",
    """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT DISTINCT doc_id,
        md5(array_to_string(words[i:i+7], ' ')) AS span_hash
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 7, 0))) AS i
          FROM toks)
), sg AS (
    SELECT DISTINCT d.source, g.span_hash
    FROM grams g JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b,
    COUNT(*) AS shared_spans
FROM sg a JOIN sg b
  ON a.span_hash = b.span_hash AND a.source < b.source
GROUP BY 1, 2
""",
)
def x43(spark, sf_dir):
    """Cross-source span-copy matrix: for every source pair, how many
    distinct word-8-grams they share — the 'who copies whom'
    diagnostic that decides which source pairs need pairwise dedup
    before mixing. Shape: distinct (source, span) projection
    (source-count-bounded per span) then a span-keyed self-join —
    the k² term is per-SPAN source count (≤ #sources), never doc
    count, so the matrix costs one spans-sized shuffle at any corpus
    size."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    docs = _docs(spark, sf_dir)
    grams = (
        word_gram_table(docs, "text", "doc_id", n=8)
        .select("id", F.md5("gram").alias("span_hash"))
        .distinct()
    )
    sg = (
        grams.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .select("source", "span_hash")
        .distinct()
    )
    a = sg.select(F.col("source").alias("source_a"), "span_hash")
    b = sg.select(F.col("source").alias("source_b"), "span_hash")
    return (
        a.join(b, "span_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_spans"))
    )


@q(
    "x42_novelty_rate",
    """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT DISTINCT doc_id,
        md5(array_to_string(words[i:i+7], ' ')) AS span_hash
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 7, 0))) AS i
          FROM toks)
), firsts AS (
    SELECT span_hash, MIN(doc_id) AS first_id FROM grams GROUP BY 1
), per AS (
    SELECT g.doc_id, COUNT(*) AS n_spans,
        SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS n_new
    FROM grams g JOIN firsts f USING (span_hash)
    GROUP BY 1
)
SELECT d.doc_id,
    COALESCE(per.n_spans, 0) AS n_spans,
    ROUND(CASE WHEN per.n_spans > 0
          THEN per.n_new / per.n_spans ELSE 1.0 END, 6) AS novelty
FROM documents d LEFT JOIN per USING (doc_id)
""",
)
def x42(spark, sf_dir):
    """Span novelty rate: fraction of each document's distinct word-
    8-grams whose corpus-wide FIRST occurrence (min doc id) is this
    document — ~1 for fresh content, ~0 for re-hashes of earlier
    docs. The streaming-ingest freshness signal, batch form: one
    min-aggregate over span hashes + one id-keyed reduce; zero-span
    docs default to novelty 1.0 (nothing copied)."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    docs = _docs(spark, sf_dir)
    grams = (
        word_gram_table(docs, "text", "doc_id", n=8)
        .select("id", F.md5("gram").alias("span_hash"))
        .distinct()
    )
    firsts = grams.groupBy("span_hash").agg(F.min("id").alias("first_id"))
    per = (
        grams.join(firsts, "span_hash")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.round(
                F.when(
                    F.col("n_spans") > 0,
                    F.col("n_new") / F.col("n_spans"),
                ).otherwise(F.lit(1.0)),
                6,
            ).alias("novelty"),
        )
    )


@q(
    "x41_zipf_spectrum",
    """
WITH toks AS (
    SELECT unnest(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
        AS w
    FROM documents
), tf AS (
    SELECT w, COUNT(*) AS freq FROM toks GROUP BY 1
)
SELECT freq, COUNT(*) AS n_types,
    CAST(freq * COUNT(*) AS BIGINT) AS n_tokens
FROM tf GROUP BY 1
""",
)
def x41(spark, sf_dir):
    """Token frequency-of-frequencies (the Zipf/Heaps spectrum): how
    many word types occur exactly ``freq`` times — the standard
    corpus-health diagnostic (singleton mass = OCR noise / junk,
    head mass = boilerplate). Two map-side-combinable aggregates,
    vocabulary-sized then spectrum-sized shuffles — nothing scales
    with corpus rows."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    toks = word_gram_table(_docs(spark, sf_dir), "text", "doc_id", n=1)
    tf = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("freq"))
    return tf.groupBy("freq").agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("freq") * F.count(F.lit(1))).alias("n_tokens"),
    )


_GOPHER_STOP_SQL = "'the','be','to','of','and','that','have','with'"

_GOPHER_SQL = f"""
WITH w AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words,
        length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
            AS alnum_chars,
        (length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) // 3
            AS n_sym
    FROM documents
), m AS (
    SELECT doc_id, len(words) AS n_words, alnum_chars, n_sym,
        len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
            AS n_alpha,
        len(list_filter(words,
            x -> list_contains([{_GOPHER_STOP_SQL}], x))) AS n_stop
    FROM w
)
SELECT doc_id, n_words,
    ROUND(CASE WHEN n_words > 0 THEN alnum_chars / n_words
          ELSE 0.0 END, 6) AS mean_word_len,
    ROUND(CASE WHEN n_words > 0 THEN n_alpha / n_words
          ELSE 0.0 END, 6) AS frac_alpha,
    n_stop,
    ROUND(CASE WHEN n_words > 0 THEN n_sym / n_words
          ELSE 0.0 END, 6) AS symbol_ratio,
    (n_words BETWEEN 50 AND 100000
     AND (CASE WHEN n_words > 0 THEN alnum_chars / n_words ELSE 0.0 END)
         BETWEEN 3.0 AND 10.0
     AND (CASE WHEN n_words > 0 THEN n_sym / n_words ELSE 0.0 END) <= 0.1
     AND (CASE WHEN n_words > 0 THEN n_alpha / n_words ELSE 0.0 END) >= 0.8
     AND n_stop >= 2) AS passes_gopher
FROM m
"""


def _x37_sql() -> str:
    from trisk_datawrangle_spark.llm.text import BPE_MERGES

    s = "',,' || regexp_replace(gram, '(.)', '\\1,,', 'g')"
    for a, b in BPE_MERGES:
        s = f"replace({s}, ',{a},,{b},', ',{a}{b},')"
    return f"""
WITH toks AS (
    SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS gram
    FROM documents
), enc AS (
    SELECT doc_id, length(gram) AS n_chars,
        (length({s}) - length(replace({s}, ',,', ''))) // 2 - 1 AS n_toks
    FROM toks
), per AS (
    SELECT doc_id, COUNT(*) AS n_words,
        CAST(SUM(n_toks) AS BIGINT) AS n_bpe_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM enc GROUP BY 1
)
SELECT d.doc_id,
    COALESCE(per.n_words, 0) AS n_words,
    COALESCE(per.n_bpe_tokens, 0) AS n_bpe_tokens,
    ROUND(CASE WHEN per.n_bpe_tokens > 0
          THEN per.n_chars / per.n_bpe_tokens ELSE 0.0 END, 6)
        AS chars_per_token
FROM documents d LEFT JOIN per USING (doc_id)
"""


@q("x37_bpe_encode", _x37_sql())
def x37(spark, sf_dir):
    """BPE merge application (ranked merge list → per-doc token
    stats) — pure codegen replace-chain encoding; see
    ``llm/text.py:bpe_encode_stats`` for the boundary-scheme proof.
    Pairs with x26 (the distributed merge LEARNER)."""
    from trisk_datawrangle_spark.llm.text import bpe_encode_stats

    return bpe_encode_stats(_docs(spark, sf_dir))


def _c4_sql() -> str:
    # quality gate (x3's exact scoring) -> duplicate-span scrub among
    # the SURVIVORS only (x39's islands logic, gated relation) ->
    # per-source integer accounting. All-integer outputs: engine-exact.
    return f"""
WITH q AS ({_QUALITY_SQL}),
gated AS (
    SELECT d.doc_id, d.source, d.text
    FROM documents d JOIN q USING (doc_id)
    WHERE q.quality >= 0.8
), toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM gated
), numbered AS (
    SELECT doc_id, i AS p
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, len(words))) AS i
          FROM toks)
), grams AS (
    SELECT doc_id, i AS start,
        md5(array_to_string(words[i:i+7], ' ')) AS span_hash
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 7, 0))) AS i
          FROM toks)
), rep AS (
    SELECT span_hash FROM grams GROUP BY 1 HAVING COUNT(*) >= 2
), occ AS (
    SELECT g.doc_id, g.start,
        row_number() OVER (PARTITION BY g.span_hash
                           ORDER BY g.doc_id, g.start) AS rk
    FROM grams g JOIN rep USING (span_hash)
), covered AS (
    SELECT DISTINCT doc_id, unnest(generate_series(start, start + 7)) AS p
    FROM occ WHERE rk > 1
), removed AS (
    SELECT doc_id, COUNT(*) AS n_removed
    FROM covered GROUP BY 1
), per_doc AS (
    SELECT n.doc_id, COUNT(*) AS total,
        COALESCE(MAX(r.n_removed), 0) AS n_removed
    FROM numbered n LEFT JOIN removed r USING (doc_id)
    GROUP BY 1
)
SELECT g.source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(p.n_removed) AS BIGINT) AS words_removed,
    CAST(SUM(p.total - p.n_removed) AS BIGINT) AS words_kept
FROM gated g JOIN per_doc p USING (doc_id)
GROUP BY 1
"""


@q("c4_curate_v2", _c4_sql())
def c4(spark, sf_dir):
    """Round-7 curation surface chained end-to-end in ONE plan:
    quality gate (x3 scoring, ≥ 0.8) → duplicate-span scrub among the
    survivors (x39's first-occurrence-keep policy, scoped to the
    gated subset so the span statistics reflect the corpus that will
    actually train) → per-source accounting. All-integer outputs, so
    the composition is engine-exact end-to-end. The executable
    composite of this round's additions, the way c1/c2 compose the
    earlier dedup tiers."""
    from trisk_datawrangle_spark.llm.text import (
        quality_score,
        scrub_duplicate_spans,
    )

    docs = _docs(spark, sf_dir)
    # NOTE (r13, measured and rejected): a nondeterministic pushdown
    # barrier here (monotonically_increasing_id in the projection)
    # stops the gate filter re-inlining the score chain, and wins on
    # the isolated gate scan (1.22 -> 0.80 s) — but in THIS composite
    # it measured a consistent LOSS (c4 warm 5.0 -> 7.0 s interleaved):
    # the nondeterministic projection defeats subtree reuse between
    # gated's two consumers, which outweighs the saved evaluation.
    gated = docs.withColumn(
        "__q", F.round(quality_score("text"), 6)
    ).filter(F.col("__q") >= 0.8).drop("__q")
    scrubbed = scrub_duplicate_spans(gated, "text", "doc_id", n=8)
    return (
        gated.select("doc_id", "source")
        .join(scrubbed, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_removed").alias("words_removed"),
            F.sum("n_kept").alias("words_kept"),
        )
    )


_X45_SQL = """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT doc_id, i AS start,
        md5(array_to_string(words[i:i+7], ' ')) AS span_hash
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 7, 0))) AS i
          FROM toks)
), rep AS (
    SELECT span_hash FROM grams GROUP BY 1 HAVING COUNT(*) >= 2
), flagged AS (
    SELECT DISTINCT g.doc_id, g.start
    FROM grams g JOIN rep USING (span_hash)
), runs AS (
    SELECT doc_id, start,
        start - row_number() OVER (PARTITION BY doc_id ORDER BY start)
            AS grp
    FROM flagged
), spans AS (
    SELECT doc_id, COUNT(*) + 7 AS span_words
    FROM runs GROUP BY doc_id, grp
)
SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_max_spans,
    CAST(MAX(span_words) AS BIGINT) AS longest_span_words
FROM spans GROUP BY 1
"""


@q("x45_maximal_spans", _X45_SQL)
def x45(spark, sf_dir):
    """MAXIMAL duplicated spans per document: consecutive flagged
    word-8-gram starts merge into one span of ``run + 7`` words
    (islands-and-gaps: ``start − row_number`` is constant within a
    consecutive run) — recovering the maximal-match lengths the
    suffix-array formulation of Lee et al. 2022 reports, from the
    fixed-n distributed form (x36). One extra keyed window + two
    aggregates on the flagged-start table; docs with no duplicated
    spans are absent (inner semantics, matching the oracle)."""
    from pyspark.sql import Window

    from trisk_datawrangle_spark.llm.text import duplicate_spans

    n = 8
    flagged = (
        duplicate_spans(_docs(spark, sf_dir), "text", "doc_id", n=n)
        .select("doc_id", "start")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    runs = flagged.withColumn(
        "grp", F.col("start") - F.row_number().over(w)
    )
    spans = runs.groupBy("doc_id", "grp").agg(
        (F.count(F.lit(1)) + (n - 1)).alias("span_words")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_max_spans"),
        F.max("span_words").alias("longest_span_words"),
    )


_X36_SQL = """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT doc_id, i AS start,
        md5(array_to_string(words[i:i+7], ' ')) AS span_hash
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 7, 0))) AS i
          FROM toks)
), rep AS (
    SELECT span_hash, COUNT(*) AS n_dups
    FROM grams GROUP BY 1 HAVING COUNT(*) >= 2
)
SELECT g.doc_id, g.start, g.span_hash, r.n_dups
FROM grams g JOIN rep r USING (span_hash)
"""


_X39_SQL = """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), numbered AS (
    SELECT doc_id, i AS p, words[i] AS w
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, len(words))) AS i
          FROM toks)
), grams AS (
    SELECT doc_id, i AS start,
        md5(array_to_string(words[i:i+7], ' ')) AS span_hash
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 7, 0))) AS i
          FROM toks)
), rep AS (
    SELECT span_hash FROM grams GROUP BY 1 HAVING COUNT(*) >= 2
), occ AS (
    SELECT g.doc_id, g.start, g.span_hash,
        row_number() OVER (PARTITION BY g.span_hash
                           ORDER BY g.doc_id, g.start) AS rk
    FROM grams g JOIN rep USING (span_hash)
), covered AS (
    SELECT DISTINCT doc_id, unnest(generate_series(start, start + 7)) AS p
    FROM occ WHERE rk > 1
), kept AS (
    SELECT n.doc_id, n.p, n.w
    FROM numbered n ANTI JOIN covered c
      ON n.doc_id = c.doc_id AND n.p = c.p
), rebuilt AS (
    SELECT doc_id,
        string_agg(w, ' ' ORDER BY p) AS scrubbed_text,
        COUNT(*) AS n_kept
    FROM kept GROUP BY 1
), totals AS (
    SELECT doc_id, COUNT(*) AS total FROM numbered GROUP BY 1
)
SELECT d.doc_id,
    COALESCE(r.scrubbed_text, '') AS scrubbed_text,
    COALESCE(r.n_kept, 0) AS n_kept,
    COALESCE(t.total, 0) - COALESCE(r.n_kept, 0) AS n_removed
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""


@q("x39_scrub_spans", _X39_SQL)
def x39(spark, sf_dir):
    """Span-level dedup REWRITE: duplicated word-8-grams removed,
    corpus-wide first occurrence kept (Lee et al. 2022 policy) —
    the action step over x36's report; see
    ``llm/text.py:scrub_duplicate_spans``."""
    from trisk_datawrangle_spark.llm.text import scrub_duplicate_spans

    return scrub_duplicate_spans(
        _docs(spark, sf_dir), "text", "doc_id", n=8, min_count=2
    )


@q("x36_duplicate_spans", _X36_SQL)
def x36(spark, sf_dir):
    """Exact duplicate-span positions (word-8-gram occurrences seen
    2+ times corpus-wide) — the span-level dedup primitive from Lee
    et al. 2022, re-expressed as two keyed shuffles; see
    ``llm/text.py:duplicate_spans``."""
    from trisk_datawrangle_spark.llm.text import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), "text", "doc_id", n=8, min_count=2
    )


def _x35_sql() -> str:
    from trisk_datawrangle_spark.llm.sampling import md5_bucket_sql

    bucket = md5_bucket_sql("gram", 512, seed=0)
    return f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 1, 0))) AS i
          FROM toks)
), gb AS (
    SELECT g.doc_id, {bucket} AS b,
        CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END AS t
    FROM grams g JOIN documents d USING (doc_id)
), stats AS (
    SELECT b, COUNT(*) AS c_r, SUM(t) AS c_t FROM gb GROUP BY 1
), tot AS (
    SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM stats
), per AS (
    SELECT gb.doc_id,
        SUM(ln((c_t + 1.0) / (c_r + 1.0))) AS s,
        COUNT(*) AS n_grams
    FROM gb JOIN stats USING (b) GROUP BY 1
)
SELECT d.doc_id,
    COALESCE(per.n_grams, 0) AS n_grams,
    ROUND(COALESCE(
        per.s + per.n_grams * ln((tot.n_r + 512.0) / (tot.n_t + 512.0)),
        0.0), 6) AS logweight
FROM documents d LEFT JOIN per USING (doc_id) CROSS JOIN tot
"""


@q("x35_dsir_weights", _x35_sql())
def x35(spark, sf_dir):
    """DSIR-style hashed-bigram importance weights against the
    'src0' target domain — the data-selection scoring pass; see
    ``llm/sampling.py:dsir_importance_weights`` for the scale shape
    (bucket-count aggregate + broadcast totals, no driver state)."""
    from trisk_datawrangle_spark.llm.sampling import dsir_importance_weights

    docs = _docs(spark, sf_dir)
    out = dsir_importance_weights(
        docs, F.col("source") == "src0", "text", "doc_id",
        n=2, buckets=512, seed=0,
    )
    return out.select(
        "doc_id", "n_grams", F.round("logweight", 6).alias("logweight")
    )


def _x38_sql() -> str:
    from trisk_datawrangle_spark.llm.sampling import (
        md5_bucket_sql,
        md5_uniform_sql,
    )

    bucket = md5_bucket_sql("gram", 512, seed=0)
    u = md5_uniform_sql("doc_id", seed=11)
    return f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
), grams AS (
    SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
    FROM (SELECT doc_id, words,
            unnest(generate_series(1, greatest(len(words) - 1, 0))) AS i
          FROM toks)
), gb AS (
    SELECT g.doc_id, {bucket} AS b,
        CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END AS t
    FROM grams g JOIN documents d USING (doc_id)
), stats AS (
    SELECT b, COUNT(*) AS c_r, SUM(t) AS c_t FROM gb GROUP BY 1
), tot AS (
    SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM stats
), per AS (
    SELECT gb.doc_id,
        SUM(ln((c_t + 1.0) / (c_r + 1.0))) AS s,
        COUNT(*) AS n_grams
    FROM gb JOIN stats USING (b) GROUP BY 1
), lw AS (
    SELECT d.doc_id, d.source,
        COALESCE(per.s + per.n_grams
                 * ln((tot.n_r + 512.0) / (tot.n_t + 512.0)), 0.0)
            AS logweight
    FROM documents d LEFT JOIN per USING (doc_id) CROSS JOIN tot
)
SELECT source, doc_id FROM (
    SELECT source, doc_id,
        row_number() OVER (
            PARTITION BY source
            ORDER BY ln(-ln({u})) - logweight ASC, doc_id
        ) AS rk
    FROM lw
) WHERE rk <= 5
"""


@q("x38_dsir_resample", _x38_sql())
def x38(spark, sf_dir):
    """DSIR selection end-to-end: hashed-bigram importance weights →
    log-domain Efraimidis–Spirakis resample (5 docs per source,
    inclusion ∝ exp(logweight)) — the executable composition of x35
    with ``weighted_take_log``; the pipeline a 100 TB target-domain
    selection actually runs."""
    from trisk_datawrangle_spark.llm.sampling import (
        dsir_importance_weights,
        weighted_take_log,
    )

    docs = _docs(spark, sf_dir)
    lw = dsir_importance_weights(
        docs, F.col("source") == "src0", "text", "doc_id",
        n=2, buckets=512, seed=0,
    )
    joined = docs.select("doc_id", "source").join(
        lw.select("doc_id", "logweight"), "doc_id"
    )
    took = weighted_take_log(
        joined, ["source"], 5, "logweight", "doc_id", seed=11
    )
    return took.select("source", "doc_id")


@q("x34_gopher_rules", _GOPHER_SQL)
def x34(spark, sf_dir):
    """Gopher quality-rule gate (Rae et al. 2021 public filter set)
    over the documents table — per-word metrics via ONE keyed
    aggregate on the shared gram builder, scalar symbol counts as
    plain expressions; see ``llm/text.py:gopher_quality_table``."""
    from trisk_datawrangle_spark.llm.text import gopher_quality_table

    return gopher_quality_table(_docs(spark, sf_dir), "text", "doc_id")


def _x25_sql() -> str:
    from trisk_datawrangle_spark.llm.sampling import md5_uniform_sql

    u_pos = md5_uniform_sql("doc_id", seed=3)
    u_shard = md5_uniform_sql("doc_id", seed=4)
    return f"""
WITH q AS ({_QUALITY_SQL}),
b AS (SELECT quantile_cont(quality, [0.25, 0.5, 0.75]) AS bs FROM q),
t AS (
    SELECT q.doc_id,
        CAST(4 - ((CASE WHEN q.quality >= bs[1] THEN 1 ELSE 0 END)
             + (CASE WHEN q.quality >= bs[2] THEN 1 ELSE 0 END)
             + (CASE WHEN q.quality >= bs[3] THEN 1 ELSE 0 END))
            AS INTEGER) AS tier
    FROM q CROSS JOIN b
),
s AS (
    SELECT doc_id, tier,
        CAST(LEAST(CAST(floor(({u_shard}) * 8) AS INTEGER), 7)
            AS INTEGER) AS shard,
        {u_pos} AS u
    FROM t
)
SELECT doc_id, tier, shard,
    CAST(row_number() OVER (PARTITION BY tier, shard
        ORDER BY u, doc_id) AS INTEGER) AS position
FROM s
"""


def _x28_sql() -> str:
    from trisk_datawrangle_spark.llm.sampling import md5_uniform_sql

    u = md5_uniform_sql("doc_id", seed=9)
    return f"""
SELECT doc_id, source FROM documents
ORDER BY {u} ASC, doc_id ASC LIMIT 100
"""


@q("x28_global_sample", _x28_sql())
def x28(spark, sf_dir):
    """Deterministic corpus-wide eval sample (llm/sampling.py
    global_take): the 100 smallest md5-uniform rows — a pure
    function of (id, seed), executed as TakeOrderedAndProject
    (per-partition top-k + k-row driver merge; plan-asserted in
    tests), never a single-task global sort."""
    from trisk_datawrangle_spark.llm.sampling import global_take

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return global_take(d, 100, "doc_id", seed=9)


def _x29_sql() -> str:
    """CDC oracle: identical md5-derived word values (the 13-hex
    integer parse, exact in BIGINT), cumulative boundary window,
    order-pinned reassembly."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(w), {i + 1}, 1)) - 1) "
        f"* {16 ** (12 - i)}"
        for i in range(13)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
        unnest(list_filter(
            list_transform(string_split_regex(lower(text), '[^a-z0-9]+'),
                (x, i) -> struct_pack(w := x, pos := i)),
            s -> s.w <> '')) AS s
    FROM documents
), words AS (
    SELECT doc_id, s.w AS w, s.pos AS pos FROM toks
), marked AS (
    SELECT doc_id, pos, w,
        CASE WHEN CAST(({digits}) AS BIGINT) % 20 = 0
             THEN 1 ELSE 0 END AS b
    FROM words
), chunked AS (
    SELECT doc_id, pos, w,
        SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS chunk_idx
    FROM marked
), rebuilt AS (
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        string_agg(w, ' ' ORDER BY pos) AS chunk_text
    FROM chunked GROUP BY doc_id, chunk_idx
)
SELECT doc_id, chunk_idx, n_words, md5(chunk_text) AS chunk_hash,
       chunk_text
FROM rebuilt
"""


@q("x29_cdc_chunks", _x29_sql())
def x29(spark, sf_dir):
    """Content-defined chunking (llm/packing.py cdc_chunk_table —
    the FastCDC idea at word granularity): chunk boundaries are a
    pure function of word content, so edits re-chunk only their
    neighborhood while every downstream block-dedup fingerprint
    re-aligns — the shift-resistant production variant of d10's
    fixed chunking. Full fingerprint table (chunk text + md5)
    hash-gated; the portable md5 boundary mode keeps both engines
    bit-identical (xxhash64 mode is the JVM fast path)."""
    from trisk_datawrangle_spark.llm.packing import cdc_chunk_table

    return cdc_chunk_table(
        _docs(spark, sf_dir), avg_words=20, portable_hash=True
    )


@q("x25_curriculum_order", _x25_sql())
def x25(spark, sf_dir):
    """Curriculum data ordering (llm/sampling.py curriculum_order):
    quality tiers from ONE exact-percentile aggregate (no global-sort
    NTILE — the quantile_bins single-task hazard), md5-derived shard,
    deterministic within-(tier, shard) position — the tier-by-tier
    schedule a distributed dataloader streams, easy data first. The
    full (tier, shard, position) assignment is hash-gated; percentile
    bounds ride the a4/x23 Spark⇄DuckDB exactness contract."""
    from trisk_datawrangle_spark.llm.sampling import curriculum_order

    d = _docs(spark, sf_dir).select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )
    out = curriculum_order(
        d, "quality", n_tiers=4, id_col="doc_id", seed=3, n_shards=8
    )
    return out.select("doc_id", "tier", "shard", "position")


@q(
    "x26_bpe_pair_stats",
    """
WITH words AS (
    SELECT w, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS w
        FROM documents) GROUP BY w
),
fw AS (SELECT * FROM words WHERE length(w) >= 2),
pairs AS (
    SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, n
    FROM fw, unnest(range(1, length(w))) AS t(i)
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT 50
""",
)
def x26(spark, sf_dir):
    """BPE tokenizer-training inner step (llm/text.py
    bpe_pair_stats): top-50 adjacent character pairs weighted by word
    frequency — the statistic each byte-pair-encoding merge round
    maximizes. Corpus collapses to its distinct-word vocabulary
    first (map-side combine), so the pair fan-out runs over the
    vocabulary, never the corpus; explode(sequence)+substring keeps
    it in codegen; top-k is TakeOrdered with a pinned tiebreak."""
    from trisk_datawrangle_spark.llm.text import bpe_pair_stats

    return bpe_pair_stats(_docs(spark, sf_dir), "text", k=50)


@q(
    "x4_fingerprint",
    """
WITH pre AS (
    SELECT doc_id, substring(text, 1, 256) AS t FROM documents
), expanded AS (
    SELECT doc_id, t, unnest(generate_series(1, length(t))) AS i FROM pre
)
SELECT doc_id,
    CAST(SUM(ascii(substring(t, i, 1)) * ((i * 31) % 1000003))
        % 2147483648 AS BIGINT) AS fp
FROM expanded GROUP BY 1
""",
)
def x4(spark, sf_dir):
    # gated fan-out (guide §2.5): the 256-char fingerprint loop is
    # pure per-row CPU that otherwise runs on the unsplittable
    # single-file scan's one task (measured 0.32 s warm → 0.18 s at
    # sf0.1/32 cores; no-op on split inputs)
    d = fan_out_scan(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    return d.select("doc_id", fingerprint("text").alias("fp"))


# ---------------------------------------------------------------- #
# multimodal plumbing                                               #
# ---------------------------------------------------------------- #


@q(
    "m1_multimodal_decode",
    """
WITH p AS (
    SELECT doc_id,
        unhex('89504E470D0A1A0A' || '0000000D49484452'
              || lpad(to_hex(16 + doc_id % 512), 8, '0')
              || lpad(to_hex(16 + doc_id % 256), 8, '0')
              || '0806000000' || '00000000') || encode(text) AS payload,
        CAST(16 + doc_id % 512 AS INTEGER) AS width,
        CAST(16 + doc_id % 256 AS INTEGER) AS height
    FROM documents
)
SELECT p.doc_id, CAST(octet_length(p.payload) AS INTEGER) AS byte_len,
       sha256(d.text) AS sha256, p.width, p.height, 'png' AS fmt
FROM p JOIN documents d USING (doc_id)
""",
)
def m1(spark, sf_dir):
    """Binary-payload metadata extraction via mapInPandas — the real
    Arrow plumbing over REAL image headers: each doc's text is
    wrapped in a genuine PNG byte stream (llm/multimodal.py
    png_payload, dims a pure function of doc_id), and the decode's
    width/height/fmt come from parsing the actual IHDR chunk
    (parse_image_dims), not a stub — so the oracle gates header
    parse and byte accounting together. The sha column hashes the
    text part (DuckDB 1.0 has no BLOB sha256; the mapInPandas
    full-payload sha stays unit-tested); the full-decode stub path
    (unrecognized bytes) is unit-tested too."""
    from trisk_datawrangle_spark.llm.multimodal import png_payload

    # NO fan-out here (r13): the r12 fan-out was kept on an
    # inconclusive A/B for family consistency; a clean conf-toggled
    # same-session A/B this round read OFF <= ON at BOTH sf0.1
    # (0.745 vs 0.918 warm-min) and sf1 (0.937 vs 0.952) — m1's
    # decode chain re-partitions inside decode_metadata anyway, so
    # the extra (doc_id, text) exchange buys nothing
    d = _docs(spark, sf_dir).select("doc_id", "text").select(
        "doc_id",
        "text",
        (F.lit(16) + F.col("doc_id") % 512).cast("int").alias("__w"),
        (F.lit(16) + F.col("doc_id") % 256).cast("int").alias("__h"),
    )
    d = d.withColumn("payload", png_payload("text", "__w", "__h"))
    meta = decode_metadata(d, "doc_id", "payload")
    return meta.join(
        d.select("doc_id", F.sha2(F.encode("text", "utf-8"), 256).alias(
            "sha256_text"
        )),
        "doc_id",
    ).select(
        "doc_id",
        "byte_len",
        F.col("sha256_text").alias("sha256"),
        "width",
        "height",
        "fmt",
    )


@q(
    "m2_multimodal_resize",
    """
WITH g AS (
    SELECT doc_id, doc_id % 4 = 0 AS real,
        CAST(4 + doc_id % 13 AS INTEGER) AS w,
        CAST(3 + doc_id % 7 AS INTEGER) AS h
    FROM documents
),
rs AS (
    SELECT g.doc_id,
        SUM((g.doc_id
             + 3 * least((ox.i * g.w) // 32, g.w - 1)
             + 5 * least((oy.i * g.h) // 32, g.h - 1)
             + 7 * c.i) % 256) AS sum_resampled
    FROM g,
        unnest(generate_series(0, 31)) AS ox(i),
        unnest(generate_series(0, 31)) AS oy(i),
        unnest(generate_series(0, 3)) AS c(i)
    WHERE g.real
    GROUP BY 1
)
SELECT g.doc_id, 32 AS width, 32 AS height,
    CAST(CASE WHEN g.real THEN 32 * 32 * 4 ELSE 1024 END AS INTEGER)
        AS byte_len,
    CAST(CASE WHEN g.real THEN g.w
         ELSE 16 + g.doc_id % 512 END AS INTEGER) AS src_width,
    CAST(CASE WHEN g.real THEN g.h
         ELSE 16 + g.doc_id % 256 END AS INTEGER) AS src_height,
    CASE WHEN g.real THEN 'png' ELSE 'raw' END AS out_fmt,
    CAST(r.sum_resampled AS BIGINT) AS sum_resampled
FROM g LEFT JOIN rs r USING (doc_id)
""",
)
def m2(spark, sf_dir):
    """Resize (binary-in/binary-out mapInPandas) over a MIXED
    fixture, gating both paths of resize_media in one entry: every
    4th document carries a genuinely decodable RGBA PNG (encode_png
    of the m5 position-dependent pixel pattern, geometry varying per
    doc) and takes the REAL path — decode_png → resample_nearest to
    32×32 → encode_png OUT; the rest carry the m1 header-only
    payloads (valid IHDR, text body) and take the LABELED
    truncate/pad fallback. The entry then re-DECODES the emitted
    payloads: real rows must round-trip as 32×32 PNGs whose exact
    integer pixel sum the oracle replays with the same floor-index
    arithmetic as resample_nearest (a wrong resample index, channel
    order, or a non-spec output PNG flips the hash); fallback rows
    carry the parsed source IHDR dims, proving source geometry flows
    through the Arrow boundary either way."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.multimodal import (
        PNG_SIG,
        decode_png,
        encode_png,
    )

    def mk_payload(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(
                pdf["doc_id"].astype("int64"), pdf["text"]
            ):
                doc_id = int(doc_id)
                if doc_id % 4 == 0:
                    w, h = 4 + doc_id % 13, 3 + doc_id % 7
                    px = bytes(
                        (doc_id + 3 * x + 5 * y + 7 * c) % 256
                        for y in range(h)
                        for x in range(w)
                        for c in range(4)
                    )
                    payload = encode_png(w, h, 4, px)
                else:
                    # the m1 header-only fixture: real IHDR (parsed,
                    # not decodable), text bytes as the body
                    w, h = 16 + doc_id % 512, 16 + doc_id % 256
                    payload = (
                        PNG_SIG
                        + b"\x00\x00\x00\x0dIHDR"
                        + w.to_bytes(4, "big")
                        + h.to_bytes(4, "big")
                        + b"\x08\x06\x00\x00\x00"
                        + b"\x00\x00\x00\x00"
                        + text.encode()
                    )
                ids.append(doc_id)
                payloads.append(payload)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def check(batches):
        for pdf in batches:
            sums = []
            for doc_id, fmt, payload in zip(
                pdf["doc_id"].astype("int64"),
                pdf["out_fmt"],
                pdf["payload"],
            ):
                if fmt != "png":
                    sums.append(None)
                    continue
                decoded = decode_png(bytes(payload))
                if decoded is None or decoded[:2] != (32, 32):
                    raise AssertionError(
                        f"m2: emitted PNG failed roundtrip for doc "
                        f"{int(doc_id)}"
                    )
                sums.append(sum(decoded[3]))
            out = pdf.drop(columns=["payload"]).copy()
            out["sum_resampled"] = pd.array(sums, dtype="Int64")
            yield out

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    payloads = d.mapInPandas(
        mk_payload, "doc_id long, payload binary"
    )
    resized = resize_media(payloads, width=32, height=32)
    return resized.select(
        "doc_id", "width", "height", "byte_len",
        "src_width", "src_height", "out_fmt", "payload",
    ).mapInPandas(
        check,
        "doc_id long, width int, height int, byte_len int, "
        "src_width int, src_height int, out_fmt string, "
        "sum_resampled long",
    )


def _m6_sql() -> str:
    """Oracle for the REAL audio path: the per-doc PCM samples are a
    pure integer function of (doc_id, frame, channel), so DuckDB
    replays the encode→decode→stats chain as arithmetic — sums and
    peaks exactly; zero-crossings as consecutive non-zero sign flips
    along channel 0 (zeros carry the previous sign, which dropping
    the zero rows reproduces exactly)."""
    return """
WITH g AS (
    SELECT doc_id,
        CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        CAST(50 + doc_id % 97 AS INTEGER) AS n_frames
    FROM documents
),
s AS (
    SELECT g.doc_id, g.channels, g.n_frames, i.i, c.i AS c,
        ((g.doc_id * 7 + i.i * 13 + c.i * 5) % 2001) - 1000 AS v
    FROM g,
        unnest(generate_series(0, g.n_frames - 1)) AS i(i),
        unnest(generate_series(0, g.channels - 1)) AS c(i)
),
agg AS (
    SELECT doc_id, channels, n_frames,
        SUM(ABS(v)) AS sum_abs, MAX(ABS(v)) AS peak
    FROM s GROUP BY 1, 2, 3
),
nz AS (
    SELECT doc_id, i,
        CASE WHEN v > 0 THEN 1 ELSE -1 END AS sg
    FROM s WHERE c = 0 AND v <> 0
),
zc AS (
    SELECT doc_id, COUNT(*) AS zero_crossings FROM (
        SELECT doc_id, sg,
            lag(sg) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM nz)
    WHERE prev IS NOT NULL AND sg <> prev
    GROUP BY 1
)
SELECT a.doc_id, a.channels,
    CAST(a.n_frames AS BIGINT) AS n_samples,
    CAST((a.n_frames * 1000) // 8000 AS BIGINT) AS duration_ms,
    CAST(a.sum_abs AS BIGINT) AS sum_abs,
    CAST(a.peak AS BIGINT) AS peak,
    CAST(COALESCE(z.zero_crossings, 0) AS BIGINT) AS zero_crossings
FROM agg a LEFT JOIN zc z USING (doc_id)
"""


@q("m6_audio_stats", _m6_sql())
def m6(spark, sf_dir):
    """REAL WAV audio path, driver-gated end to end (the m5 idiom
    for audio): per document a spec-valid RIFF/PCM stream is
    ENCODED (llm/audio.py encode_wav — 16-bit, mono/stereo varying
    per doc) from a deterministic sample pattern, DECODED back
    (decode_wav — real chunk walk + PCM slicing), and exact integer
    statistics (sum |sample|, peak, channel-0 zero crossings,
    duration) returned. The oracle replays every sample as SQL
    integer arithmetic — a wrong chunk offset, endianness, channel
    de-interleave, or sign convention flips the hash. One
    Arrow-batched mapInPandas kernel; geometry varies per doc."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.audio import (
        encode_wav,
        wav_stats,
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                channels = 1 + doc_id % 2
                n_frames = 50 + doc_id % 97
                samples = [
                    ((doc_id * 7 + i * 13 + c * 5) % 2001) - 1000
                    for i in range(n_frames)
                    for c in range(channels)
                ]
                st = wav_stats(
                    encode_wav(8000, channels, 16, samples)
                )
                if st is None or st["n_samples"] != n_frames:
                    raise AssertionError(
                        f"m6: roundtrip failed for doc {doc_id}"
                    )
                rows.append(
                    (
                        doc_id, channels, st["n_samples"],
                        st["duration_ms"], st["sum_abs"],
                        st["peak"], st["zero_crossings"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "channels", "n_samples",
                    "duration_ms", "sum_abs", "peak",
                    "zero_crossings",
                ],
            )

    d = _docs(spark, sf_dir).select("doc_id")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    return d.mapInPandas(
        stats,
        "doc_id long, channels int, n_samples long, "
        "duration_ms long, sum_abs long, peak long, "
        "zero_crossings long",
    )


_M7_SQL = """
WITH g AS (
    SELECT doc_id, CAST(2 + doc_id % 6 AS INTEGER) AS n_frames
    FROM documents
)
SELECT g.doc_id, CAST(i.i AS INTEGER) AS frame_idx,
    16 AS width, 8 AS height, CAST(384 AS BIGINT) AS n_pixels
FROM g, unnest(generate_series(0, g.n_frames - 1)) AS i(i)
WHERE i.i % 2 = 0
"""


@q("m7_video_frame_sample", _M7_SQL)
def m7(spark, sf_dir):
    """REAL video frame sampling, driver-gated: per document an
    MJPEG AVI container is built (llm/video.py encode_avi_mjpeg —
    RIFF hdrl/movi/idx1, each frame a genuine baseline JPEG from
    llm/jpeg.py), the container is parsed back and every 2nd frame
    is DECODED through the real JPEG path (sample_frames). The entry
    emits one row per sampled frame with its index, geometry, and
    decoded pixel count — the oracle replays the sampling arithmetic
    per doc, so a wrong chunk walk, off-by-one frame index, or a
    frame that fails to decode (sample_frames returns None and the
    kernel raises) breaks the hash. This is the m4 fan-out made
    real: the plumbing AND the codec run, not a stub index. One
    Arrow-batched mapInPandas kernel; frame count varies per doc."""
    import numpy as np
    import pandas as pd

    from trisk_datawrangle_spark.llm.jpeg import encode_jpeg
    from trisk_datawrangle_spark.llm.video import (
        encode_avi_mjpeg,
        sample_frames,
    )

    def frames_of(doc_id: int) -> list[bytes]:
        out = []
        for f in range(2 + doc_id % 6):
            g = (doc_id * 31 + f * 17) % 256
            img = np.full((8, 16, 3), g, np.uint8)
            out.append(encode_jpeg(16, 8, 3, img.tobytes(), quality=90))
        return out

    def stats(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                avi = encode_avi_mjpeg(16, 8, 10, frames_of(doc_id))
                sampled = sample_frames(avi, every_n=2)
                if sampled is None:
                    raise AssertionError(
                        f"m7: container/frame decode failed for "
                        f"doc {doc_id}"
                    )
                for idx, w, h, px in sampled:
                    rows.append((doc_id, idx, w, h, len(px)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "width", "height",
                    "n_pixels",
                ],
            )

    d = _docs(spark, sf_dir).select("doc_id")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    return d.mapInPandas(
        stats,
        "doc_id long, frame_idx int, width int, height int, "
        "n_pixels long",
    )


@q(
    "m8_progressive_decode",
    """
SELECT doc_id,
    CAST(8 + doc_id % 17 AS INTEGER) AS width,
    CAST(8 + doc_id % 9 AS INTEGER) AS height,
    CASE WHEN doc_id % 2 = 0 THEN '420' ELSE '444' END
        AS subsampling,
    9 AS n_scans,
    CAST((8 + doc_id % 17) * (8 + doc_id % 9) * 3 AS BIGINT)
        AS n_pixels,
    TRUE AS equal_baseline
FROM documents
""",
)
def m8(spark, sf_dir):
    """REAL progressive JPEG decode (T.81 Annex G), driver-gated:
    per document an RGB image (m7-style doc-dependent pattern,
    geometry and chroma subsampling varying per doc) is encoded BOTH
    as baseline (SOF0) and progressive (SOF2 — the 9-scan
    libjpeg-style script: interleaved DC at Al=1, spectral-selection
    AC bands at Al=1, then DC + per-component AC refinement scans),
    both streams are decoded, and the kernel RAISES unless the
    progressive decode is byte-for-byte identical to the baseline
    decode — the successive-approximation scans must restore every
    coefficient bit, so any error in band bookkeeping, EOB-run
    accounting, correction bits, or the DC point transform breaks
    the entry. The oracle replays the geometry/scan-count arithmetic
    and pins equal_baseline TRUE (value-level parity is pinned by
    the raise: lossy DCT output itself is not SQL-replayable, the
    same idiom as m7). One Arrow-batched mapInPandas kernel — the
    media tier where per-byte Python is the task."""
    import numpy as np
    import pandas as pd

    from trisk_datawrangle_spark.llm.jpeg import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 17, 8 + doc_id % 9
                sub = "420" if doc_id % 2 == 0 else "444"
                xx, yy = np.meshgrid(np.arange(w), np.arange(h))
                img = np.stack(
                    [
                        (doc_id + 3 * xx + 5 * yy + 41 * c) % 256
                        for c in range(3)
                    ],
                    axis=-1,
                ).astype(np.uint8)
                px = img.tobytes()
                base = decode_jpeg(
                    encode_jpeg(w, h, 3, px, quality=85,
                                subsampling=sub)
                )
                prog_payload = encode_jpeg_progressive(
                    w, h, 3, px, quality=85, subsampling=sub
                )
                prog = decode_jpeg_progressive(prog_payload)
                if base is None or prog is None:
                    raise AssertionError(
                        f"m8: decode failed for doc {doc_id}"
                    )
                if prog != base:
                    raise AssertionError(
                        f"m8: progressive != baseline for doc "
                        f"{doc_id}"
                    )
                n_scans = prog_payload.count(b"\xff\xda")
                rows.append(
                    (doc_id, w, h, sub, n_scans, len(prog[3]), True)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "subsampling",
                    "n_scans", "n_pixels", "equal_baseline",
                ],
            )

    d = _docs(spark, sf_dir).select("doc_id")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    return d.mapInPandas(
        stats,
        "doc_id long, width int, height int, subsampling string, "
        "n_scans int, n_pixels long, equal_baseline boolean",
    )


_M9_SQL = """
WITH g AS (
    SELECT doc_id, doc_id // 2 AS k, doc_id % 2 AS shift,
        CAST(12 + (doc_id // 2) % 9 AS BIGINT) AS w,
        CAST(10 + (doc_id // 2) % 7 AS BIGINT) AS h
    FROM documents
),
pix AS (
    SELECT g.doc_id, g.k, g.shift, oy.i AS oy, ox.i AS ox,
        least(ox.i * g.w // 9, g.w - 1) AS sx,
        least(oy.i * g.h // 8, g.h - 1) AS sy
    FROM g,
        unnest(generate_series(0, 8)) AS ox(i),
        unnest(generate_series(0, 7)) AS oy(i)
),
cells AS (
    SELECT doc_id, oy, ox,
        (299 * ((k * 37 + 11 * sx + 23 * sy) % 255 + shift)
         + 587 * ((k * 37 + 11 * sx + 23 * sy + 5) % 255 + shift)
         + 114 * ((k * 37 + 11 * sx + 23 * sy + 10) % 255 + shift)
        ) // 1000 AS gray
    FROM pix
),
bits AS (
    SELECT a.doc_id,
        SUM(CASE WHEN b.gray > a.gray
            THEN 1::HUGEINT << (a.oy * 8 + a.ox)
            ELSE 0::HUGEINT END) AS raw
    FROM cells a
    JOIN cells b
      ON b.doc_id = a.doc_id AND b.oy = a.oy AND b.ox = a.ox + 1
    WHERE a.ox < 8
    GROUP BY a.doc_id
),
hashes AS (
    SELECT doc_id,
        CAST(CASE WHEN raw >= 9223372036854775808::HUGEINT
             THEN raw - 18446744073709551616::HUGEINT
             ELSE raw END AS BIGINT) AS dhash
    FROM bits
)
SELECT h1.doc_id, h1.dhash,
    CAST(bit_count(xor(h1.dhash, h2.dhash)) AS INTEGER)
        AS twin_hamming,
    CAST(COUNT(*) OVER (PARTITION BY h1.dhash) AS INTEGER)
        AS n_same_hash
FROM hashes h1
JOIN hashes h2 ON h2.doc_id = xor(h1.doc_id, 1)
"""


@q("m9_image_dedup", _M9_SQL)
def m9(spark, sf_dir):
    """Perceptual image dedup (dHash, llm/phash.py) over REAL
    decoded pixels, driver-gated end to end: docs come in twin
    pairs (doc_id XOR 1) — the odd twin is its even sibling with
    EVERY channel shifted +1 (a brightness edit: different bytes,
    same content) — each doc is a genuine RGBA PNG, decoded
    (decode_png), 9×8 nearest-resampled, integer-BT.601 grayscaled,
    and hashed by horizontal neighbor comparisons into a signed
    64-bit dHash. The oracle replays the entire chain — resample
    floor indexing, luma division, bit placement, two's-complement
    wrap — as SQL integer arithmetic, plus the downstream
    relational algebra: twin hamming via bit_count(xor) (0 by
    brightness-shift invariance — the floor-exact +1 luma shift
    preserves every comparison) and perceptual-group sizes via a
    hash window count. Scale shape: decode+hash in the Arrow media
    kernel, then ONE hash-groupBy (the d1 exact-dedup plan) and a
    key-equi twin join — nothing quadratic; the hamming band for
    near-misses reuses d4's SimHash banding unchanged."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.multimodal import encode_png
    from trisk_datawrangle_spark.llm.phash import perceptual_hashes

    def mk_payload(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                k, shift = doc_id // 2, doc_id % 2
                w, h = 12 + k % 9, 10 + k % 7
                px = bytes(
                    (k * 37 + 11 * x + 23 * y + 5 * c) % 255 + shift
                    for y in range(h)
                    for x in range(w)
                    for c in range(4)
                )
                ids.append(doc_id)
                payloads.append(encode_png(w, h, 4, px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = _docs(spark, sf_dir).select("doc_id")
    # this exchange parallelizes mk_payload (per-pixel PNG encode):
    # perceptual_hashes repartitions ABOVE its input, which is too
    # late for the payload-build stage below it (r9 review #3)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    payloads = d.mapInPandas(
        mk_payload, "doc_id long, payload binary"
    )
    # stage boundary: the decode+dHash kernel feeds BOTH branches of
    # the twin self-join — uncached it would run twice per document
    # (it dominates this entry's cost); the cached frame is two
    # longs per row.
    hashes = perceptual_hashes(payloads).cache()
    twins = hashes.select(
        F.col("doc_id").alias("twin_id"),
        F.col("dhash").alias("twin_dhash"),
    )
    joined = hashes.join(
        twins,
        F.col("doc_id").bitwiseXOR(F.lit(1)) == F.col("twin_id"),
    )
    win = Window.partitionBy("dhash")
    return joined.select(
        "doc_id",
        "dhash",
        F.bit_count(
            F.col("dhash").bitwiseXOR(F.col("twin_dhash"))
        ).cast("int").alias("twin_hamming"),
        F.count(F.lit(1)).over(win).cast("int").alias("n_same_hash"),
    )


#: the C(8,4)=70 block-index combinations of the Manku key scheme.
#: ORDER IS THE PARITY CONTRACT: the oracle's VALUES table below and
#: the kernel's posexplode (phash.hamming_band_pairs builds its key
#: array from the same itertools.combinations(range(8), 4) call,
#: whose order is documented-deterministic) must agree
#: combination-for-combination.
_M10_COMBOS = ", ".join(
    f"({ci}, {c[0]}, {c[1]}, {c[2]}, {c[3]})"
    for ci, c in enumerate(_combinations(range(8), 4))
)

_M10_SQL = f"""
WITH g AS (
    SELECT doc_id, doc_id // 3 AS k, doc_id % 3 AS m,
        CAST(12 + (doc_id // 3) % 9 AS BIGINT) AS w,
        CAST(10 + (doc_id // 3) % 7 AS BIGINT) AS h
    FROM documents
),
pix AS (
    SELECT g.doc_id, g.k, g.m, g.w, g.h, oy.i AS oy, ox.i AS ox,
        least(ox.i * g.w // 9, g.w - 1) AS sx,
        least(oy.i * g.h // 8, g.h - 1) AS sy
    FROM g,
        unnest(generate_series(0, 8)) AS ox(i),
        unnest(generate_series(0, 7)) AS oy(i)
),
seed AS (
    SELECT doc_id, m, w, h, oy, ox, sx, sy, c.i AS c,
        (k * 2654435761 + sx * 40503 + sy * 65599 + 7 * c.i
         + CASE WHEN m = 2 THEN 999331 ELSE 0 END)
        % 4294967296 AS t
    FROM pix, unnest(generate_series(0, 2)) AS c(i)
),
-- the splitmix finalizer: xor-shift-16 + two 0x45d9f3b multiplies,
-- all BIGINT-safe (< 2^32 before each multiply)
mixed AS (
    SELECT doc_id, m, w, h, oy, ox, sx, sy, c,
        xor(t4, t4 // 65536) AS t5
    FROM (
        SELECT *,
            (xor(t2, t2 // 65536) * 73244475) % 4294967296 AS t4
        FROM (
            SELECT *,
                (xor(t, t // 65536) * 73244475) % 4294967296 AS t2
            FROM seed
        )
    )
),
chan AS (
    SELECT doc_id, oy, ox, c,
        CASE
            WHEN m = 1 AND sx = (3 * w) // 9 AND sy = (4 * h) // 8
            THEN ((t5 % 255) + 97) % 255
            ELSE t5 % 255
        END AS v
    FROM mixed
),
cells AS (
    SELECT doc_id, oy, ox,
        (299 * max(CASE WHEN c = 0 THEN v END)
         + 587 * max(CASE WHEN c = 1 THEN v END)
         + 114 * max(CASE WHEN c = 2 THEN v END)) // 1000 AS gray
    FROM chan
    GROUP BY doc_id, oy, ox
),
bits AS (
    SELECT a.doc_id,
        SUM(CASE WHEN b.gray > a.gray
            THEN 1::HUGEINT << (a.oy * 8 + a.ox)
            ELSE 0::HUGEINT END) AS raw
    FROM cells a
    JOIN cells b
      ON b.doc_id = a.doc_id AND b.oy = a.oy AND b.ox = a.ox + 1
    WHERE a.ox < 8
    GROUP BY a.doc_id
),
hashes AS (
    SELECT doc_id, raw,
        CAST(CASE WHEN raw >= 9223372036854775808::HUGEINT
             THEN raw - 18446744073709551616::HUGEINT
             ELSE raw END AS BIGINT) AS dhash
    FROM bits
),
hv AS (
    SELECT DISTINCT raw, dhash FROM hashes
),
combos(ci, i0, i1, i2, i3) AS (
    VALUES {_M10_COMBOS}
),
keys AS (
    SELECT hv.dhash, c.ci,
        CAST((hv.raw // (1::HUGEINT << (8 * c.i0))) % 256
             + ((hv.raw // (1::HUGEINT << (8 * c.i1))) % 256) * 256
             + ((hv.raw // (1::HUGEINT << (8 * c.i2))) % 256) * 65536
             + ((hv.raw // (1::HUGEINT << (8 * c.i3))) % 256)
               * 16777216
             AS BIGINT) AS key
    FROM hv, combos c
),
vcand AS (
    SELECT DISTINCT a.dhash AS h_a, b.dhash AS h_b
    FROM keys a
    JOIN keys b ON a.ci = b.ci AND a.key = b.key
        AND a.dhash <= b.dhash
),
vpairs AS (
    SELECT h_a, h_b,
        CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
    FROM vcand
    WHERE bit_count(xor(h_a, h_b)) <= 4
)
SELECT
    least(da.doc_id, db.doc_id) AS id_a,
    greatest(da.doc_id, db.doc_id) AS id_b,
    min(v.hamming) AS hamming,
    least(da.doc_id, db.doc_id) // 3
        = greatest(da.doc_id, db.doc_id) // 3 AS same_group
FROM vpairs v
JOIN hashes da ON da.dhash = v.h_a
JOIN hashes db ON db.dhash = v.h_b
WHERE da.doc_id <> db.doc_id
GROUP BY 1, 2, 4
"""


@q("m10_image_near_dup", _M10_SQL)
def m10(spark, sf_dir):
    """Banded hamming near-duplicate pairing over perceptual image
    hashes (llm/phash.py hamming_band_pairs) — the rung above m9's
    exact-hash grouping: images that are near-duplicates but NOT
    hash-identical pair up via the Manku WWW'07 block-combination
    scheme (8×8-bit blocks, C(8,4)=70 32-bit composite keys,
    GUARANTEED recall to hamming 4 → exact ``bit_count(xor) <= 4``
    verify), banded over DISTINCT hash values with doc expansion at
    the end. Docs come in triplets (k = doc_id//3): the base image
    (m=0, pixel pattern with k-dependent multipliers so the corpus
    hash space is DIVERSE — the first-cut fixture's ~16k distinct
    hashes at sf10 exploded any banding scheme's equal-key joins),
    a LOCALLY EDITED variant (m=1 — the source pixel feeding
    exactly ONE sample cell of the 9×8 dHash grid is bumped +97, so
    at most the two comparisons touching that cell flip: hamming
    <= 2, well inside the recall guarantee), and an unrelated image
    (m=2). Every payload is a real RGBA PNG decoded by the real
    decoder. The oracle replays the ENTIRE chain as SQL integer
    arithmetic — resample floor indexing, the single-cell bump
    condition, luma division, bit placement, two's-complement wrap,
    8-bit block extraction + combination keys over the unsigned raw
    (== Spark's shiftrightunsigned on the signed), value-level
    candidate distinct, hamming verify, least/greatest doc
    expansion — so a broken block slice, shift semantics, key
    combination, pair dedup, or verify threshold flips the hash.
    Scale shape: decode+hash in the Arrow media kernel, distinct →
    explode ×70 → ONE (combo, key) equi-join with 32-bit key
    fan-in (collision term 70·n²/2³² — measured: the 16-bit
    first cut read 42× per 10× at sf10; this shape is sublinear),
    JVM popcount filter, two hash-equi expansion joins — nothing
    quadratic in rows (the d3 discipline)."""
    from trisk_datawrangle_spark.llm.phash import hamming_band_pairs

    # stage boundary: the decode+dHash kernel feeds the distinct,
    # the value join, and the two expansion joins inside
    # hamming_band_pairs — cached, it runs once per image (two
    # longs per row held)
    hashes = _m10_hashes(spark, sf_dir).cache()
    pairs = hamming_band_pairs(
        hashes, blocks=8, key_blocks=4, max_hamming=4
    )
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        F.expr("id_a div 3 = id_b div 3").alias("same_group"),
    )


def _m10_hashes(spark, sf_dir):
    """The shared m10/m11 fixture: per-doc triplet PNGs (base /
    single-cell local edit / unrelated — see m10's docstring)
    decoded to (doc_id, dhash) by the real decoder. ONE builder so
    the pair entry and the cluster entry cannot drift apart."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.multimodal import encode_png
    from trisk_datawrangle_spark.llm.phash import perceptual_hashes

    # Per-pixel splitmix noise, NOT an affine gradient: dHash bits
    # of smooth gradients carry far less than 1 bit of entropy each
    # (measured — affine fixtures produced 40-368 accidental
    # hamming<=4 pairs per ~3k docs however the coefficients were
    # k-diversified, whose chains then blew the component iteration
    # budget at sf1), while the mixed pixels give unbiased,
    # independent comparisons: 0 accidental pairs in the same
    # simulation, popcount mean 31.9. The mix is oracle-replayable
    # BIGINT arithmetic (xor + shift-16 + two 0x45d9f3b multiplies
    # mod 2^32 — the classic 32-bit finalizer).
    def _mix(t: int) -> int:
        t ^= t >> 16
        t = (t * 0x45D9F3B) % 4294967296
        t ^= t >> 16
        t = (t * 0x45D9F3B) % 4294967296
        t ^= t >> 16
        return t

    def mk_payload(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                k, m = doc_id // 3, doc_id % 3
                w, h = 12 + k % 9, 10 + k % 7
                # the source pixel sampled by dHash grid cell (3, 4)
                sx0, sy0 = (3 * w) // 9, (4 * h) // 8
                salt = 999331 if m == 2 else 0
                px = bytearray()
                for y in range(h):
                    for x in range(w):
                        for c in range(4):
                            t = (
                                k * 2654435761 + x * 40503
                                + y * 65599 + 7 * c + salt
                            ) % 4294967296
                            v = _mix(t) % 255
                            if m == 1 and x == sx0 and y == sy0:
                                v = (v + 97) % 255
                            px.append(v)
                ids.append(doc_id)
                payloads.append(encode_png(w, h, 4, bytes(px)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = _docs(spark, sf_dir).select("doc_id")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    payloads = d.mapInPandas(
        mk_payload, "doc_id long, payload binary"
    )
    return perceptual_hashes(payloads)


_M11_SQL = f"""
WITH RECURSIVE dpairs AS (
{_M10_SQL}
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM dpairs
    UNION SELECT id_b, id_a FROM dpairs
),
lbl(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM lbl GROUP BY node),
clusters AS (
    SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, cluster_id,
    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER)
        AS cluster_size
FROM clusters
"""


@q("m11_image_dedup_clusters", _M11_SQL)
def m11(spark, sf_dir):
    """Image near-dup CLUSTERS — the d7 idiom on the visual ladder:
    m10's Manku-banded hamming pairs feed pointer-jumped connected
    components (llm/components.py dedup_clusters — the SAME operator
    the text ladder uses, proving the pair tiers compose across
    modalities), every doc gets its component's minimum id as
    cluster_id (singletons their own), plus the cluster size. The
    fixture is the SHARED m10 triplet builder (_m10_hashes — one
    source of truth): base + local-edit variants cluster together,
    unrelated images stand alone unless genuinely within hamming 4.
    Cluster ids are what a multimodal corpus build feeds to
    deterministic_split so near-duplicate image families never
    straddle a train/test boundary (the x15 cluster-safe-split
    contract). The oracle wraps the FULL m10 pair SQL in a recursive
    min-label CTE (the d7 oracle idiom) plus a cluster-size window,
    so a missed pair, a wrong component fold, or an unstable
    min-label flips the hash. Scale shape: m10's linear pair plan +
    pointer-jumping components (log-depth rounds, checkpoint-hygiene
    documented in connected_components — the same machinery measured
    at sf10 under d7/d15)."""
    from trisk_datawrangle_spark.llm.components import dedup_clusters
    from trisk_datawrangle_spark.llm.phash import hamming_band_pairs

    hashes = _m10_hashes(spark, sf_dir).cache()
    pairs = hamming_band_pairs(
        hashes, blocks=8, key_blocks=4, max_hamming=4
    )
    # cut the lineage at the (tiny) pair set BEFORE components: the
    # loop's edges checkpoint otherwise re-materializes the whole
    # decode→band→expand subtree inside the iteration's own memory
    # envelope — at sf10 a broadcast build failed to allocate while
    # 32 tasks were simultaneously inside the expansion joins
    # (measured). Checkpointed, the loop's working set is
    # label-sized frames only.
    pairs = pairs.localCheckpoint(eager=True)
    hashes.unpersist()
    docs = _docs(spark, sf_dir).select("doc_id")
    clusters = dedup_clusters(docs, pairs)
    win = Window.partitionBy("cluster_id")
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(win).cast("int").alias("cluster_size"),
    )


def _m5_sql() -> str:
    """Oracle for the REAL pixel path: every stage is a pure integer
    function of doc_id, so DuckDB replays the whole
    encode→decode→resample chain without any image code — source
    pixel (x, y, c) carries byte (doc_id + 3x + 5y + 7c) % 256, the
    8×8 nearest-neighbor pick is the same floor-division index
    arithmetic resample_nearest does, and the sums are exact
    BIGINTs."""
    return """
WITH g AS (
    SELECT doc_id,
        CAST(4 + doc_id % 13 AS INTEGER) AS w,
        CAST(3 + doc_id % 7 AS INTEGER) AS h
    FROM documents
),
src AS (
    SELECT g.doc_id, g.w, g.h,
        SUM((g.doc_id + 3 * x.i + 5 * y.i + 7 * c.i) % 256)
            AS sum_src
    FROM g,
        unnest(generate_series(0, g.w - 1)) AS x(i),
        unnest(generate_series(0, g.h - 1)) AS y(i),
        unnest(generate_series(0, 3)) AS c(i)
    GROUP BY 1, 2, 3
),
rs AS (
    SELECT g.doc_id,
        SUM((g.doc_id
             + 3 * least((ox.i * g.w) // 8, g.w - 1)
             + 5 * least((oy.i * g.h) // 8, g.h - 1)
             + 7 * c.i) % 256) AS sum_resampled
    FROM g,
        unnest(generate_series(0, 7)) AS ox(i),
        unnest(generate_series(0, 7)) AS oy(i),
        unnest(generate_series(0, 3)) AS c(i)
    GROUP BY 1
)
SELECT s.doc_id, s.w AS width, s.h AS height,
    CAST(s.sum_src AS BIGINT) AS sum_src,
    CAST(r.sum_resampled AS BIGINT) AS sum_resampled
FROM src s JOIN rs r USING (doc_id)
"""


@q("m5_pixel_stats", _m5_sql())
def m5(spark, sf_dir):
    """REAL PNG pixel decode, driver-gated end to end (r7 verdict
    #7): per document a spec-valid RGBA PNG is ENCODED (encode_png —
    zlib IDAT, true CRCs) from a position-dependent pixel pattern,
    DECODED back (decode_png — real inflate + unfilter), 8×8
    nearest-neighbor RESAMPLED (resample_nearest), and the exact
    integer pixel sums of both stages are returned. The oracle
    replays every byte as integer arithmetic — a wrong filter
    reverse, stride, or index floor anywhere in the chain flips the
    hash. Runs as one Arrow-batched mapInPandas kernel (the media
    tier where per-byte Python IS the task); geometry varies per doc
    so the kernel is exercised across strides."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.multimodal import (
        decode_png,
        encode_png,
        resample_nearest,
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 13, 3 + doc_id % 7
                px = bytes(
                    (doc_id + 3 * x + 5 * y + 7 * c) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(4)
                )
                payload = encode_png(w, h, 4, px)
                decoded = decode_png(payload)
                if decoded is None:
                    raise AssertionError(
                        f"m5: roundtrip decode failed for doc {doc_id}"
                    )
                dw, dh, ch, raw = decoded
                if (dw, dh, ch, raw) != (w, h, 4, px):
                    raise AssertionError(
                        f"m5: decode mismatch for doc {doc_id}"
                    )
                rs = resample_nearest(w, h, 4, raw, 8, 8)
                rows.append(
                    (doc_id, w, h, sum(raw), sum(rs))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "sum_src",
                    "sum_resampled",
                ],
            )

    d = _docs(spark, sf_dir).select("doc_id")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    return d.mapInPandas(
        stats,
        "doc_id long, width int, height int, sum_src long, "
        "sum_resampled long",
    )


def _m3_sql() -> str:
    """Oracle for the multimodal feature stack: the stub embedding is
    a pure function of sha256(payload) (llm/multimodal.py
    extract_features) — bytes 1..16 of the digest, centered at 127.5,
    L2-normalized in float64, stored float32. Every step is
    replayable in SQL: hex-digit parsing recovers the digest bytes,
    the squared-norm sum is a dyadic rational (k.5² terms, exact in
    double in any order), and REAL casts reproduce the float32
    storage rounding; cosine + rank then follow the s1 oracle shape."""
    b = (
        "CAST(strpos('0123456789abcdef', substr(sha,(i-1)*2+1,1))-1 AS DOUBLE)*16"
        " + CAST(strpos('0123456789abcdef', substr(sha,(i-1)*2+2,1))-1 AS DOUBLE)"
    )
    return f"""
WITH raw AS (
    SELECT doc_id AS vec_id,
        list_transform(range(1, 17), i -> {b} - 127.5) AS r
    FROM (SELECT doc_id, sha256(text) AS sha FROM documents)
), nrm AS (
    SELECT vec_id, r,
        sqrt(list_sum(list_transform(r, x -> x * x))) AS n
    FROM raw
), emb AS (
    SELECT vec_id,
        CAST(list_transform(r, x -> CAST(x / n AS REAL)) AS DOUBLE[]) AS v
    FROM nrm
), q AS (
    SELECT vec_id, v FROM emb WHERE vec_id < 5
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v)
            / (greatest(sqrt(list_dot_product(q.v, q.v)), 1e-12)
               * greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12)) AS cosine
    FROM emb c CROSS JOIN q
    WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= 3
"""


@q("m3_multimodal_features", _m3_sql())
def m3(spark, sf_dir):
    """Feature extraction feeding the similarity stack: payload →
    unit-norm embedding (stub: sha256-derived) → exact cosine top-3
    over the extracted vectors. Exercises the full multimodal →
    embedding → ANN composition in one plan, hash-checked end-to-end
    against the SQL replay of the digest-derived features."""
    d = with_binary_payload(_docs(spark, sf_dir), "text", "payload")
    emb = extract_features(d, dim=16)
    probes = emb.filter(F.col("vec_id") < 5)
    res = cosine_topk(emb, probes, k=3)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


from trisk_datawrangle_spark.llm.sampling import (  # noqa: E402
    cap_per_group,
    deterministic_split,
    md5_uniform_sql,
    split_sql,
    stratified_take,
    weighted_take,
)


@q(
    "x10_weighted_take",
    f"""
SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
        row_number() OVER (
            PARTITION BY lang
            ORDER BY ln({md5_uniform_sql('doc_id', 7)}) / length(text) DESC,
                     doc_id
        ) AS rk
    FROM documents WHERE length(text) > 0
) WHERE rk <= 10
""",
)
def x10(spark, sf_dir):
    """Quality-weighted corpus selection: per language, 10 documents
    sampled WITHOUT replacement with probability ∝ length (stand-in
    weight; swap in quality_score/token counts in a real pipeline) —
    Efraimidis–Spirakis keys ln(u)/w on an engine-portable md5
    uniform, so the oracle replays the identical selection in SQL."""
    d = _docs(spark, sf_dir).withColumn("__w", F.length("text"))
    took = weighted_take(d, ["lang"], 10, "__w", "doc_id", seed=7)
    return took.select("lang", "doc_id")

_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


@q(
    "x5_deterministic_split",
    f"""
SELECT {split_sql('doc_id', _SPLIT_FRACTIONS, seed=7)} AS split,
       COUNT(*) AS n,
       MIN(doc_id) AS min_id
FROM documents
GROUP BY 1
""",
)
def x5(spark, sf_dir):
    """Hash-deterministic train/val/test assignment: the Spark
    expression and the oracle's SQL CASE assign every document the
    same split (md5 thresholds are engine-portable), so the grouped
    counts hash-match exactly — proving the split is a pure function
    of the id, not of partitioning or engine."""
    d = deterministic_split(
        _docs(spark, sf_dir), "doc_id", _SPLIT_FRACTIONS, seed=7
    )
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id")
    )


def _d7_sql() -> str:
    """Cluster-id oracle: the exact 0.8-Jaccard pair SQL composed
    with a recursive min-label CTE (reachability → min reachable
    node per doc) — the pair set the default LSH tier exact-verifies
    against."""
    return f"""
WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(0.8)}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
lbl(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM lbl GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


@q("d7_dedup_clusters", _d7_sql())
def d7(spark, sf_dir):
    """Near-dup cluster ids THROUGH THE DEFAULT PAIR TIER
    (llm/components.py dedup_clusters_pipeline): MinHash-LSH
    candidates + exact verification feeding pointer-jumped connected
    components. Since r8 the named operator defaults to the
    candidate-bounded scale path (r7 verdict #2) — the exhaustive
    co-shingle join is ``pair_tier="exact"``, opt-in, oracle-gated
    through d2. Exact verification makes the default tier's pair set
    equal the oracle's exact-Jaccard pairs (recall-1 banding at 0.8,
    the d3 contract), so the same hard oracle gates the
    configuration users actually get. Cluster ids feed
    deterministic_split for leakage-safe train/test assignment."""
    from trisk_datawrangle_spark.llm.components import (
        dedup_clusters_pipeline,
    )

    docs = _docs(spark, sf_dir)
    return dedup_clusters_pipeline(docs, "text", "doc_id", threshold=0.8)


def _c3_sql() -> str:
    """Canonical-per-cluster oracle: cluster CTE (recursive, exact
    0.8 pairs — what the default LSH tier exact-verifies against) ×
    the quality SQL × a window argmax."""
    return f"""
WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(0.8)}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
lbl(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM lbl GROUP BY node),
clusters AS (
    SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
q AS ({_QUALITY_SQL}),
ranked AS (
    SELECT cl.cluster_id, cl.doc_id, q.quality,
        row_number() OVER (PARTITION BY cl.cluster_id
                           ORDER BY q.quality DESC, cl.doc_id) AS rk
    FROM clusters cl JOIN q ON cl.doc_id = q.doc_id
)
SELECT cluster_id, doc_id AS canonical_id, quality
FROM ranked WHERE rk = 1
"""


@q("c3_cluster_canonical", _c3_sql())
def c3(spark, sf_dir):
    """Curation capstone THROUGH THE DEFAULT PAIR TIER
    (llm/curate.py cluster_canonical): near-dup clusters collapsed
    to one canonical document each — the highest quality_score wins,
    ties to the smaller id. Composes the pair graph (LSH candidates
    + exact verify — the candidate-bounded default since r8; the
    exhaustive join is ``pair_tier="exact"``, opt-in), connected
    components (d7) and quality scoring (x3) in one plan."""
    from trisk_datawrangle_spark.llm.curate import cluster_canonical

    docs = _docs(spark, sf_dir)
    return cluster_canonical(docs, "text", "doc_id", threshold=0.8)


@q(
    "x9_normalize_text",
    f"""
SELECT doc_id,
    trim(regexp_replace(
        regexp_replace(
            regexp_replace(text, '{URL_RX}', '<URL>', 'g'),
            '{EMAIL_RX}', '<EMAIL>', 'g'),
        '{SPACE_RX}', ' ', 'g')) AS clean,
    length(text) AS raw_len
FROM documents
""",
)
def x9(spark, sf_dir):
    """Text normalization / cheap PII masking as one JVM expression
    chain; the oracle runs the literally-identical POSIX-class
    regexes, so the cleaned strings hash-match."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        normalize_text("text").alias("clean"),
        F.length("text").alias("raw_len"),
    )


@q(
    "x24_pii_scrub",
    f"""
WITH aug AS (
    SELECT doc_id,
        text || ' ip 10.0.' || CAST(doc_id % 200 AS VARCHAR)
             || '.7 call +1 (555) 01' || CAST(doc_id % 10 AS VARCHAR)
             || '-4477 or 192.168.' || CAST(doc_id % 250 AS VARCHAR)
             || '.9 mail u' || CAST(doc_id AS VARCHAR)
             || '@example.com see https://ex.com/p/'
             || CAST(doc_id AS VARCHAR) AS t
    FROM documents
)
SELECT doc_id,
    trim(regexp_replace(
        regexp_replace(
            regexp_replace(
                regexp_replace(
                    regexp_replace(t, '{URL_RX}', '<URL>', 'g'),
                    '{EMAIL_RX}', '<EMAIL>', 'g'),
                '{IPV4_RX}', '<IP>', 'g'),
            '{PHONE_RX}', '<PHONE>', 'g'),
        '{SPACE_RX}', ' ', 'g')) AS clean
FROM aug
""",
)
def x24(spark, sf_dir):
    """Corpus-release PII scrub (llm/text.py pii_scrub): URL, email,
    IPv4 and phone masking as one JVM regexp chain over documents
    augmented with deterministic doc_id-derived PII (so every mask
    kind fires on every row and the full masked string is
    hash-gated, not just a passthrough). Pattern order is the
    contract — IPs are masked before the phone pattern could eat a
    dotted quad — and both engines run the literally-identical
    Java-RE2-portable regexes."""
    from trisk_datawrangle_spark.llm.text import pii_scrub

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" ip 10.0."), (did % 200).cast("string"),
            F.lit(".7 call +1 (555) 01"), (did % 10).cast("string"),
            F.lit("-4477 or 192.168."), (did % 250).cast("string"),
            F.lit(".9 mail u"), did.cast("string"),
            F.lit("@example.com see https://ex.com/p/"),
            did.cast("string"),
        ).alias("t"),
    )
    return aug.select("doc_id", pii_scrub("t").alias("clean"))


@q(
    "d8_normalized_dedup",
    f"""
WITH norm AS (
    SELECT doc_id,
        trim(regexp_replace(
            regexp_replace(
                regexp_replace(lower(text), '{URL_RX}', '<URL>', 'g'),
                '{EMAIL_RX}', '<EMAIL>', 'g'),
            '{SPACE_RX}', ' ', 'g')) AS clean
    FROM documents
)
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM norm GROUP BY clean
""",
)
def d8(spark, sf_dir):
    """Normalized exact dedup — the tier between raw-exact (d1) and
    MinHash (d3) in the corpus ladder: dedup on the normalized text
    (lowercased, URLs/emails masked, whitespace collapsed), so docs
    differing only in casing, links or formatting collapse to one
    canonical (min-id) row. One hash-partitioned aggregation; at
    corpus scale group on xxhash64(clean) to narrow the shuffle."""
    d = _docs(spark, sf_dir)
    clean = normalize_text(F.lower(F.col("text")))
    return (
        d.groupBy(clean.alias("__clean"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


@q(
    "d6_contamination",
    """
WITH ws AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    w -> w <> '') AS ws
    FROM documents
), g AS (
    SELECT doc_id,
        unnest(list_distinct(list_transform(
            range(1, greatest(len(ws) - 2, 1)),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        ))) AS g
    FROM ws
), bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
   corpus AS (SELECT * FROM g WHERE doc_id >= 20)
SELECT c.doc_id, COUNT(*) AS n_hits
FROM corpus c JOIN bench b USING (g)
GROUP BY 1
""",
)
def d6(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any distinct
    word-4-gram with the (broadcast) eval set, with overlap counts —
    the leakage gate run before training."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 20)
    corp = docs.filter(F.col("doc_id") >= 20)
    return contamination_overlap(corp, bench, "text", "doc_id", n=4)


@q(
    "x8_sequence_pack",
    """
WITH toks AS (
    SELECT doc_id, lang,
        len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_tok
    FROM documents
), packed AS (
    SELECT doc_id, lang, n_tok,
        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
    FROM toks
)
SELECT doc_id, lang,
    CAST(floor(CAST(cum - n_tok AS DOUBLE) / 512) AS BIGINT) AS pack_id,
    CAST(cum AS BIGINT) AS pack_cum_tokens
FROM packed
""",
)
def x8(spark, sf_dir):
    """Token-budget sequence packing (streaming chunking): per-lang
    shards, BPE-ish token counts, 512-token budget. The oracle runs
    the identical cumulative window — pack assignment is a pure
    function of (shard, order, counts)."""
    from trisk_datawrangle_spark.llm.packing import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", token_count("text", "bpe").alias("n_tok")
    )
    packed = pack_sequences(d, "n_tok", 512, ["lang"], "doc_id")
    return packed.select(
        "doc_id",
        "lang",
        "pack_id",
        F.col("pack_cum_tokens").cast("long").alias("pack_cum_tokens"),
    )


@q(
    "x7_repetition_score",
    """
WITH words AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    w -> w <> '') AS ws
    FROM documents
), grams AS (
    SELECT doc_id,
        list_transform(range(1, greatest(len(ws) - 1, 1)),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS gs
    FROM words
)
SELECT doc_id,
    ROUND(CASE WHEN len(gs) > 0
          THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
          ELSE 0.0 END, 6) AS rep_ratio
FROM grams
""",
)
def x7(spark, sf_dir):
    """Word-trigram repetition ratio per document (boilerplate /
    degenerate-repetition gate)."""
    return repetition_table(_docs(spark, sf_dir), "text", "doc_id", 3)


@q(
    "x6_stratified_take",
    """
SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
        row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id
        ) AS rk
    FROM documents
) WHERE rk <= 5
""",
)
def x6(spark, sf_dir):
    """Deterministic per-language eval subset: exactly 5 docs per
    lang, chosen by hash order — the same rows on any engine or
    partitioning (the oracle runs the identical window)."""
    d = stratified_take(_docs(spark, sf_dir), ["lang"], 5, "doc_id", seed=7)
    return d.select("lang", "doc_id")


# ---------------------------------------------------------------- #
# corpus curation (composite pipeline)                              #
# ---------------------------------------------------------------- #

def _curate_sql(source: str = "documents") -> str:
    """The c1 exact-curation chain (lang gate + quality gate + exact
    dedup keep-lowest-id) as SQL over any (doc_id, text) relation —
    shared by c1, c2 and the w4 end-to-end corpus build."""
    return f"""
WITH feat AS (
    SELECT doc_id, text,
        (SELECT CASE
            WHEN greatest(s_en, s_fr, s_de, s_es) <= 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
            WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
            WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
            ELSE 'es' END) AS lang,
        ROUND((
            (CASE WHEN length(text) >= 100 AND length(text) <= 10000
                THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN (CASE WHEN length(text) > 0
                THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                     / length(text) ELSE 0.0 END) <= 0.1
                THEN 1.0 ELSE 0.3 END)
            + (CASE WHEN (CASE WHEN len(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) > 0
                THEN len(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> list_contains([{_STOP_SQL}], x)))
                     / len(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) ELSE 0.0 END) >= 0.05
                THEN 1.0 ELSE 0.6 END)
        ) / 3.0, 6) AS quality,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
            x -> x <> '')) AS INTEGER) AS n_tokens
    FROM (
        SELECT doc_id, text,
            {_LANG_SQL_SCORES['en']} AS s_en,
            {_LANG_SQL_SCORES['fr']} AS s_fr,
            {_LANG_SQL_SCORES['de']} AS s_de,
            {_LANG_SQL_SCORES['es']} AS s_es
        FROM {source}
    )
), gated AS (
    SELECT * FROM feat WHERE lang = 'en' AND quality >= 0.6
)
SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang,
       MIN(quality) AS quality, MIN(n_tokens) AS n_tokens
FROM gated GROUP BY text
"""


_CURATE_SQL = _curate_sql()


@q("c1_curate_exact", _CURATE_SQL)
def c1(spark, sf_dir):
    """Deterministic corpus curation: lang filter + quality gate +
    exact dedup keeping the lowest id (llm/curate.py)."""
    from trisk_datawrangle_spark.llm.curate import curate_exact

    return curate_exact(_docs(spark, sf_dir))


def _c2_sql() -> str:
    """Oracle for the full curation chain: the exact-curation CTE,
    exact-Jaccard pairs *within the curated survivors*, anti-join on
    the higher id. The Spark side finds the same pairs through
    MinHash-LSH + exact verification, so the outputs coincide."""
    return f"""
WITH kept AS ({_CURATE_SQL}),
survdocs AS (
    SELECT d.doc_id, d.text FROM documents d
    JOIN kept k ON d.doc_id = k.doc_id
),
jp AS ({_jaccard_pairs_sql(0.8, source="survdocs")})
SELECT k.doc_id, k.lang, k.quality, k.n_tokens FROM kept k
WHERE k.doc_id NOT IN (SELECT id_b FROM jp)
"""


@q("c2_curate_near_dedup", _c2_sql())
def c2(spark, sf_dir):
    """Full curation with near-dup removal on top of the exact stage:
    drop the higher id of every *exact-verified* pair (true
    word-3-gram Jaccard ≥ 0.8, candidates via MinHash-LSH) — the
    whole chain is deterministic and hash-checks against the SQL
    oracle."""
    from trisk_datawrangle_spark.llm.curate import curate

    return curate(_docs(spark, sf_dir))


# ---------------------------------------------------------------- #
# x11/x12 — token heavy hitters: exact top-k + Count-Min gate       #
# ---------------------------------------------------------------- #

_TOPK_SQL = """
SELECT token, n FROM (
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
            AS token
        FROM documents
    )
    WHERE token <> ''
    GROUP BY token
)
ORDER BY n DESC, token ASC
LIMIT {k}
"""


@q("x11_token_topk", _TOPK_SQL.format(k=40))
def x11(spark, sf_dir):
    """Exact corpus heavy hitters: top-40 tokens by frequency.
    Explode → hash-agg with map-side combine (one shuffle, vocabulary
    sized) → TakeOrdered (per-partition top-k, k-row driver merge —
    no global sort). Ties at the cut are broken by token, so the k-
    boundary is deterministic in both engines."""
    from trisk_datawrangle_spark.llm.text import token_topk

    return token_topk(_docs(spark, sf_dir), "text", k=40)


@q(
    "x12_cms_freq_gate",
    """
SELECT token, exact_n, TRUE AS within_eps FROM (
    SELECT token, CAST(count(*) AS BIGINT) AS exact_n
    FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
            AS token
        FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY exact_n DESC, token ASC
    LIMIT 20
)
""",
)
def x12(spark, sf_dir):
    """Count-Min sketch frequency estimates gated against ground
    truth (the e6 HLL pattern for point frequencies): the sketch is
    built/merged JVM-side by the ``count_min_sketch`` aggregate, the
    KB-scale binary is estimated driver-side for the exact top-20
    tokens, and each row carries ``within_eps`` — CMS never
    undercounts, and overcounts by ≤ eps·N with the configured
    confidence (eps=1e-4, conf=0.999; the margin test in
    tests/test_gate_margins.py asserts the corpus sits far inside
    the bound, so this gate fails diagnostically, not flakily)."""
    from trisk_datawrangle_spark.llm.text import word_gram_table
    from trisk_datawrangle_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
        cms_total,
    )

    docs = _docs(spark, sf_dir)
    # ONE cached token frame feeds both the exact top-k and the
    # sketch aggregate (uncached, the scan+explode would run twice;
    # a cache consumed once would be pure overhead)
    toks = (
        word_gram_table(docs, "text", "doc_id", n=1)
        .select(F.col("gram").alias("token"))
        .cache()
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
        .collect()  # bounded: 20 rows
    )
    sk = cms_sketch(toks, "token", eps=1e-4, confidence=0.999, seed=42)
    est = cms_estimate(spark, sk, [r["token"] for r in top])
    bound = max(1.0, 1e-4 * cms_total(spark, sk))  # the eps·N guarantee
    rows = [
        (
            r["token"],
            r["n"],
            bool(est[r["token"]] >= r["n"]
                 and est[r["token"]] - r["n"] <= bound),
        )
        for r in top
    ]
    return spark.createDataFrame(
        rows, "token string, exact_n bigint, within_eps boolean"
    )


# ---------------------------------------------------------------- #
# round 5 additions: chunking, BM25, Bloom decontamination          #
# ---------------------------------------------------------------- #


@q(
    "x13_doc_chunking",
    """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    w -> w <> '') AS ws
    FROM documents
), spine AS (
    SELECT doc_id, ws,
        unnest(range(0, CASE WHEN len(ws) = 0 THEN 0
            ELSE CAST(ceil(greatest(len(ws) - 64, 0) / 48.0) AS BIGINT) + 1
            END)) AS chunk_id
    FROM toks
)
SELECT doc_id, chunk_id,
    array_to_string(ws[chunk_id*48 + 1 : chunk_id*48 + 64], ' ')
        AS chunk_text,
    len(ws[chunk_id*48 + 1 : chunk_id*48 + 64]) AS n_chunk_tokens
FROM spine
""",
)
def x13(spark, sf_dir):
    """Overlapping context-window chunking (64-token windows, stride
    48): the step that turns documents into embedding/training
    examples. Pure projection + posexplode — no shuffle, codegen end
    to end; the oracle replays the identical window arithmetic with
    DuckDB list slicing."""
    from trisk_datawrangle_spark.llm.packing import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), "text", "doc_id", window=64, stride=48
    )


_BM25_TERMS = ["hash", "join", "window"]


def _bm25_oracle() -> str:
    from trisk_datawrangle_spark.llm.ranking import bm25_sql

    return bm25_sql(_BM25_TERMS, source="documents")


@q("x14_bm25", None)  # oracle attached below (generator import order)
def x14(spark, sf_dir):
    """Okapi BM25 lexical relevance against a fixed query — sparse
    retrieval next to the dense ANN ladder. Two hash aggregations
    (token→doc tf vector, 1-row corpus stats) + a broadcast + a
    fixed-order scoring projection; the fixed-order sum makes the
    double bit-stable under any partitioning, so the oracle replays
    it exactly."""
    from trisk_datawrangle_spark.llm.ranking import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), _BM25_TERMS)


ORACLES["x14_bm25"] = _bm25_oracle()


def _d9_oracle(m_bits: int = 1 << 18, k: int = 3) -> str:
    from trisk_datawrangle_spark.llm.dedup import bloom_position_sql

    bpos_union = "\n    UNION ALL ".join(
        f"SELECT {bloom_position_sql('g', j, m_bits)} AS pos FROM bench"
        for j in range(k)
    )
    pos_cols = ", ".join(
        f"{bloom_position_sql('g', j, m_bits)} AS p{j}" for j in range(k)
    )
    hit_cols = ",\n        ".join(
        f"COALESCE((b{j}.word >> CAST(c.p{j} % 32 AS INTEGER)) & 1, 0) AS h{j}"
        for j in range(k)
    )
    joins = "\n    ".join(
        f"LEFT JOIN bitmap b{j} ON c.p{j} // 32 = b{j}.bucket"
        for j in range(k)
    )
    all_hit = " AND ".join(f"h{j} = 1" for j in range(k))
    return f"""
WITH ws AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    w -> w <> '') AS ws
    FROM documents
), g AS (
    SELECT doc_id,
        unnest(list_distinct(list_transform(
            range(1, greatest(len(ws) - 2, 1)),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        ))) AS g
    FROM ws
), bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
bpos AS (
    {bpos_union}
), bitmap AS (
    SELECT pos // 32 AS bucket,
        bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
    FROM bpos GROUP BY 1
), corpus AS (
    SELECT doc_id, g, {pos_cols}
    FROM g WHERE doc_id >= 20
), scored AS (
    SELECT c.doc_id,
        {hit_cols}
    FROM corpus c
    {joins}
)
SELECT doc_id,
    COUNT(*) FILTER ({all_hit}) AS n_bloom_hits
FROM scored GROUP BY 1
HAVING COUNT(*) FILTER ({all_hit}) > 0
"""


@q("d9_bloom_decontamination", None)
def d9(spark, sf_dir):
    """Bloom-filter decontamination — the scale tier above d6's
    broadcast-gram-set join: the benchmark compresses to a fixed
    2^18-bit filter (8K rows of packed 32-bit words) however large
    its vocabulary; corpus grams take k=3 broadcast joins, the only
    shuffle is the final per-doc count. No false negatives by
    construction (property-tested supersets of d6); the md5-position
    math replays exactly in the oracle."""
    from trisk_datawrangle_spark.llm.dedup import bloom_contamination

    docs = _docs(spark, sf_dir)
    return bloom_contamination(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        "text",
        "doc_id",
        n=4,
    )


ORACLES["d9_bloom_decontamination"] = _d9_oracle()


@q(
    "d10_block_dedup",
    """
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    w -> w <> '') AS ws
    FROM documents
), spine AS (
    SELECT doc_id, ws,
        unnest(range(0, CASE WHEN len(ws) = 0 THEN 0
            ELSE CAST(ceil(greatest(len(ws) - 10, 0) / 10.0) AS BIGINT) + 1
            END)) AS block_id
    FROM toks
), blocks AS (
    SELECT doc_id, block_id,
        array_to_string(ws[block_id*10 + 1 : block_id*10 + 10], ' ') AS bt
    FROM spine
), boiler AS (
    SELECT bt FROM blocks GROUP BY bt HAVING COUNT(DISTINCT doc_id) >= 2
), flagged AS (
    SELECT b.doc_id, b.block_id, b.bt, (o.bt IS NOT NULL) AS is_b
    FROM blocks b LEFT JOIN boiler o USING (bt)
)
, agg AS (
    SELECT doc_id,
        COALESCE(string_agg(CASE WHEN NOT is_b THEN bt END, ' '
                            ORDER BY block_id), '') AS clean_text,
        COUNT(*) FILTER (NOT is_b) AS n_blocks_kept,
        COUNT(*) FILTER (is_b) AS n_blocks_removed
    FROM flagged GROUP BY 1
)
SELECT d.doc_id,
    COALESCE(a.clean_text, '') AS clean_text,
    COALESCE(a.n_blocks_kept, 0) AS n_blocks_kept,
    COALESCE(a.n_blocks_removed, 0) AS n_blocks_removed
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
)
def d10(spark, sf_dir):
    """Sub-document exact dedup (C4/RefinedWeb boilerplate removal):
    10-word blocks shared verbatim by ≥2 distinct documents are
    removed and each document reassembles from its surviving blocks
    in original order. Segmentation is the shuffle-free chunking
    projection; detection is one block-text hash agg; removal a
    broadcast anti-join; reassembly one doc-keyed sort_array
    aggregation — deterministic under any partitioning."""
    from trisk_datawrangle_spark.llm.dedup import block_dedup

    return block_dedup(
        _docs(spark, sf_dir), "text", "doc_id", block_words=10, min_docs=2
    )


# ---------------------------------------------------------------- #
# w4/x15/x16 — end-to-end corpus build, leakage-safe split,         #
# per-domain cap (the RefinedWeb/C4 curation trio)                  #
# ---------------------------------------------------------------- #

_W4_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _w4_sql() -> str:
    """End-to-end corpus-build oracle: the c2 curation chain
    restricted to the corpus partition (doc_id >= 20), composed with
    the d6 4-gram decontamination CTE against the eval partition
    (doc_id < 20) and the x5 hash split, grouped to per-split
    accounting. Every stage reuses the already-hash-matched SQL of
    its standalone entry, so a w4 mismatch isolates to composition."""
    return f"""
WITH corpusdocs AS (
    SELECT doc_id, text FROM documents WHERE doc_id >= 20
),
kept AS ({_curate_sql("corpusdocs")}),
survdocs AS (
    SELECT d.doc_id, d.text FROM corpusdocs d
    JOIN kept k ON d.doc_id = k.doc_id
),
jp AS ({_jaccard_pairs_sql(0.8, source="survdocs")}),
nd AS (
    SELECT k.* FROM kept k
    WHERE k.doc_id NOT IN (SELECT id_b FROM jp)
),
ws4 AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    w -> w <> '') AS ws
    FROM documents
), g4 AS (
    SELECT doc_id,
        unnest(list_distinct(list_transform(
            range(1, greatest(len(ws) - 2, 1)),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        ))) AS g
    FROM ws4
), benchg AS (SELECT DISTINCT g FROM g4 WHERE doc_id < 20),
contam AS (
    SELECT DISTINCT c.doc_id FROM g4 c JOIN benchg b USING (g)
    WHERE c.doc_id >= 20
),
clean AS (
    SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM contam)
)
SELECT {split_sql('doc_id', _W4_FRACTIONS, seed=7)} AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM clean GROUP BY 1
"""


@q("w4_curation_e2e", _w4_sql())
def w4(spark, sf_dir):
    """The complete LLM corpus-build chain end to end — the LLM-side
    analog of the w0/w1 finance composites: lang-id → quality gate →
    exact dedup → exact-verified near-dup removal → benchmark
    decontamination (docs 0-19 as the eval set) → deterministic
    split → per-split token accounting. llm/curate.py
    curate_to_splits; every stage is individually oracle-gated
    (c1/c2/d3/d6/x5), this entry gates their composition."""
    from trisk_datawrangle_spark.llm.curate import curate_to_splits

    docs = _docs(spark, sf_dir)
    return curate_to_splits(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        fractions=_W4_FRACTIONS,
        seed=7,
    )


def _x15_sql() -> str:
    """Leakage-safe split oracle: exact-Jaccard pairs at 0.5 (the d3
    oracle) → recursive min-label components (the d7 pattern) → the
    x5 hash split keyed on the CLUSTER id."""
    return f"""
WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(0.5)}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
lbl(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM lbl GROUP BY node),
clustered AS (
    SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, cluster_id,
       {split_sql('cluster_id', _W4_FRACTIONS, seed=11)} AS split
FROM clustered
"""


@q("x15_cluster_safe_split", _x15_sql())
def x15(spark, sf_dir):
    """Dedup-aware train/test split: near-dup pairs from the
    MinHash-LSH scale path (exact-verified, = the d3 oracle set),
    collapsed to connected components, split assigned by hash of the
    CLUSTER id — so a near-dup family can never straddle splits and
    leak an almost-copy of a test doc into train. Splitting on the
    raw doc id (x5) does not have this property; this entry gates
    the per-document assignment exactly."""
    from trisk_datawrangle_spark.llm.curate import cluster_safe_split
    from trisk_datawrangle_spark.llm.dedup import minhash_lsh_dedup_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_dedup_pairs(
        docs, num_hashes=64, bands=32, threshold=0.5
    )
    return cluster_safe_split(docs, pairs, _W4_FRACTIONS, seed=11)


@q(
    "x16_source_cap",
    f"""
WITH q AS ({_QUALITY_SQL}),
r AS (
    SELECT d.doc_id, d.source, q.quality,
        row_number() OVER (PARTITION BY d.source
                           ORDER BY q.quality DESC, d.doc_id) AS rk
    FROM documents d JOIN q ON d.doc_id = q.doc_id
)
SELECT doc_id, source, quality FROM r WHERE rk <= 10
""",
)
def x16(spark, sf_dir):
    """Per-domain document cap (RefinedWeb's "at most k per domain"):
    keep the 10 highest-quality docs per source, quality ties broken
    by doc_id — survivors are a pure function of the data, not of
    partitioning. One shuffle (window on source);
    llm/sampling.py cap_per_group."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.round(quality_score("text"), 6).alias("quality"),
    )
    return cap_per_group(d, ["source"], 10, "quality", "doc_id")


# ---------------------------------------------------------------- #
# x17 — n-gram LM quality score (CCNet-style perplexity filter)     #
# ---------------------------------------------------------------- #

from trisk_datawrangle_spark.llm.lm import (  # noqa: E402
    ngram_lm_scores,
    ngram_lm_sql,
)


@q("x17_lm_score", ngram_lm_sql())
def x17(spark, sf_dir):
    """Bigram language-model quality score per document (add-one
    smoothing, model trained on the corpus itself) — the perplexity
    filter that ranks "reads like language" before training. Each
    bigram's log-prob is rounded to integer micro-units BEFORE the
    per-doc sum, so the float aggregation is order-independent and
    the mean hash-matches the DuckDB oracle exactly."""
    return ngram_lm_scores(_docs(spark, sf_dir))


@q(
    "m4_frame_sample",
    """
WITH p AS (
    SELECT doc_id, octet_length(encode(text)) AS L FROM documents
)
SELECT doc_id,
    CAST(unnest(range(0,
        greatest(CAST(floor(L / 30.0) AS INTEGER) - 1, 0) + 1))
      AS INTEGER) AS frame_idx
FROM p WHERE L > 0
""",
)
def m4(spark, sf_dir):
    """Video frame-sampling plumbing (every-Nth-frame index fan-out,
    llm/multimodal.py frame_sample_plan): the explode happens after a
    repartition so one fat payload never pins a task; empty payloads
    yield no rows, short ones still sample frame 0. The index
    arithmetic is the oracle-checkable part; a real decoder slots in
    behind the same (doc_id, frame_idx) contract."""
    from trisk_datawrangle_spark.llm.multimodal import frame_sample_plan

    d = with_binary_payload(_docs(spark, sf_dir), "text", "payload")
    return frame_sample_plan(d, "payload", every_n=30).select(
        "doc_id", "frame_idx"
    )


def _d11_sql() -> str:
    """Cross-set exact pairs at 0.5 (the d3 oracle restricted to the
    even/odd partition boundary), oriented (existing=even,
    incoming=odd)."""
    return f"""
WITH jp AS ({_jaccard_pairs_sql(0.5)})
SELECT o.ea AS id_a, o.eb AS id_b, o.jaccard
FROM (
    SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS ea,
           CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS eb,
           jaccard
    FROM jp WHERE (id_a % 2) <> (id_b % 2)
) o
"""


@q("d11_incremental_dedup", _d11_sql())
def d11(spark, sf_dir):
    """Incremental dedup — a new batch checked against an existing
    corpus (llm/dedup.py minhash_lsh_incremental_pairs): the band
    join is incoming × existing only, never a corpus self-join, so a
    small delta re-checks against 100 TB at delta cost. Here the
    even/odd doc_id split stands in for corpus/batch; output pairs
    are exact-verified at Jaccard ≥ 0.5 (the d3 hard-oracle
    contract) and hash-match the cross-set exact pairs."""
    from trisk_datawrangle_spark.llm.dedup import (
        minhash_lsh_incremental_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_incremental_pairs(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        num_hashes=64,
        bands=32,
        threshold=0.5,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@q("d13_persisted_index_dedup", _d11_sql())
def d13(spark, sf_dir):
    """Persisted-index dedup — the full production lifecycle of
    d11's continual-ingestion shape (llm/lsh_index.py): the corpus
    side's shingle + banded tables are WRITTEN to disk (partitioned
    by collision shard) and the batch probes the STORED index with
    partition-pruned reads, never re-shingling the corpus. Same
    even/odd split and hard oracle as d11 — the lifecycle must
    reproduce the inline derivation bit-for-bit."""
    import tempfile

    from trisk_datawrangle_spark.llm.lsh_index import (
        minhash_lsh_index_pairs,
        write_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="lsh_index_") + "/idx"
    # 8 shards keep the fixture's leaf-directory count filesystem-
    # friendly; production defaults to 64 (llm/lsh_index.py)
    write_lsh_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        path,
        num_hashes=64,
        bands=32,
        n_shards=8,
    )
    pairs = minhash_lsh_index_pairs(
        spark,
        path,
        docs.filter(F.col("doc_id") % 2 == 1),
        threshold=0.5,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# Probe-only serving entries: d13/s7 charge a full index WRITE
# (build + persist + re-read) to every run, which hides the number a
# production deployment actually cares about — the latency of serving
# a query batch against an index that already exists. Since r8 (r7
# verdict #5) the build publishes through the PRODUCTION lifecycle:
# staged build -> publish_index_versioned into a STABLE versioned
# root -> probes resolve the root's CURRENT pointer
# (llm/lsh_index.py resolve_index_path — every probe entrypoint
# calls it), so a SECOND process finds the published version instead
# of rebuilding into a private tmpdir, and the serving entries
# exercise the versioned-pointer read path end-to-end on every run.
# In bench.py the cold pass absorbs the one-time build and every
# warm pass measures the partition-pruned probe alone. Same hard
# oracles as the lifecycle entries — the probe against a published
# index must reproduce the inline derivation bit-for-bit, so a
# stale/corrupt version can never pass silently.
_SERVING_INDEX_CACHE: dict = {}


def _served_index_path(spark, kind: str, sf_dir, build) -> str:
    """Return the stable versioned ROOT for (kind, sf_dir) —
    probes resolve its CURRENT pointer — building and publishing
    v=1 if no version is published yet. The root name carries a
    hash of the corpus's FULL absolute path (the _scratch rule):
    two different corpora that happen to share a directory basename
    must never share a published index. The staging directory lives
    UNDER the root (same filesystem), so the publish rename is a
    metadata move, never a copy. The memo is only a fast path — the
    pointer's existence is re-checked every call, so an externally
    wiped root rebuilds transparently instead of failing on a
    dangling CURRENT."""
    import hashlib
    import os

    from trisk_datawrangle_spark.llm.lsh_index import (
        CURRENT_POINTER,
        publish_index_versioned,
    )

    full = os.path.abspath(os.path.normpath(str(sf_dir)))
    sf_tag = os.path.basename(full) or "sf"
    corpus = hashlib.sha256(full.encode()).hexdigest()[:12]
    base = os.environ.get(
        "SPARK_GRAFT_SERVING_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))),
            ".scratch", "serving",
        ),
    )
    root = os.path.join(base, f"{kind}-{sf_tag}-{corpus}")
    if not os.path.exists(os.path.join(root, CURRENT_POINTER)):
        os.makedirs(root, exist_ok=True)
        staged = os.path.join(root, f".staging-{os.getpid()}")
        build(staged)
        publish_index_versioned(spark, staged, root)
    _SERVING_INDEX_CACHE[(kind, full)] = root
    return root


@q("d13_probe_serving", _d11_sql())
def d13_probe(spark, sf_dir):
    """LSH index SERVING latency — d13's probe stage alone: the
    even-half index is built once and PUBLISHED through the
    versioned lifecycle (publish_index_versioned into a stable root;
    a second process finds the published version rather than
    rebuilding), and each run resolves the root's CURRENT pointer
    and probes the stored bands/shingles with partition-pruned reads
    (llm/lsh_index.py minhash_lsh_index_pairs). This is the
    steady-state continual-ingestion cost: at 100 TB the corpus
    index is built once and amortized over every incoming batch, so
    the per-batch number is probe, not build — and the probe
    exercises the atomic-pointer read path a retrain-and-swap
    deployment serves through."""
    from trisk_datawrangle_spark.llm.lsh_index import (
        minhash_lsh_index_pairs,
        write_lsh_index,
    )

    docs = _docs(spark, sf_dir)

    def build(staged: str) -> None:
        write_lsh_index(
            docs.filter(F.col("doc_id") % 2 == 0),
            staged,
            num_hashes=64,
            bands=32,
            n_shards=8,
        )

    path = _served_index_path(spark, "lsh", sf_dir, build)
    pairs = minhash_lsh_index_pairs(
        spark,
        path,
        docs.filter(F.col("doc_id") % 2 == 1),
        threshold=0.5,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@q("s7_probe_serving", ORACLES["s1_cosine_topk"])
def s7_probe(spark, sf_dir):
    """IVF-PQ index SERVING latency — s7's probe stage alone: the
    index is trained/encoded once and PUBLISHED through the
    versioned lifecycle (publish_index_versioned into a stable root;
    a second process finds the published version rather than
    rebuilding), and each run resolves the root's CURRENT pointer
    and serves the query batch from the stored codes with
    cell-pruned reads + exact rescore (llm/pq_index.py
    ivf_pq_index_topk). Full-probe + rescore recovers s1's
    brute-force oracle exactly, so the versioned-pointer serving
    path stays hash-gated while the bench records query latency,
    not build cost."""
    from trisk_datawrangle_spark.llm.pq_index import (
        ivf_pq_index_topk,
        write_ivf_pq_index,
    )
    from trisk_datawrangle_spark.llm.similarity import collect_query_batch

    e = _embs(spark, sf_dir)
    qd = e.filter(F.col("vec_id") < 10)

    def build(staged: str) -> None:
        write_ivf_pq_index(e, staged, n_cells=16, m=8)

    path = _served_index_path(spark, "ivf_pq", sf_dir, build)
    # collect the request batch ONCE and hand it to both stages (r13)
    # — the probe GEMM and the rescore broadcast use the same rows,
    # so the serving pipeline pays one query-collect job, not two
    q_rows = collect_query_batch(qd, "vec_id", "embedding", caller="s7")
    cand = ivf_pq_index_topk(
        spark, path, qd, k=2_000_000_000, n_probe=16,
        ranked=False,  # every pair feeds the exact rescore (r12)
        q_rows=q_rows,
    )
    res = rescore_topk(cand, e, qd, k=5, q_rows=q_rows)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "v3_embedding_covariance",
    """
WITH dims AS (
    SELECT vec_id, i,
        CAST(embedding[i] AS DOUBLE) AS x
    FROM (SELECT vec_id, embedding,
            unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
), prods AS (
    SELECT a.i AS i, b.i AS j,
        SUM(CAST(ROUND(a.x * b.x * 100000000.0, 0) AS BIGINT)) AS sxy_q,
        COUNT(*) AS n
    FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
), means AS (
    SELECT i, SUM(CAST(ROUND(x * 1000000.0, 0) AS BIGINT)) AS sx_q
    FROM dims GROUP BY 1
)
SELECT p.i, p.j,
    ROUND((p.sxy_q / 100000000.0
           - (ma.sx_q / 1000000.0) * (mb.sx_q / 1000000.0) / p.n)
          / (p.n - 1), 9) AS cov
FROM prods p
JOIN means ma ON p.i = ma.i
JOIN means mb ON p.j = mb.i
""",
)
def v3(spark, sf_dir):
    """Upper-triangle sample covariance of the embedding column —
    the distributed-gramian correctness gate (order-independent
    integer-quantized sums; see ``llm/decomposition.py``). The
    throughput twin (``gramian_map_reduce``: Arrow-batch XᵀX
    partials, d² floats per partition) and the PCA stack on top are
    property-tested equal in tests/test_decomposition.py."""
    from trisk_datawrangle_spark.llm.decomposition import (
        embedding_covariance,
    )

    cov = embedding_covariance(_embs(spark, sf_dir))
    return cov.select("i", "j", F.round("cov", 9).alias("cov"))


@q(
    "v1_label_centroids",
    """
WITH ex AS (
    SELECT label,
        unnest(range(0, len(embedding))) AS pos,
        unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
)
SELECT label, CAST(pos AS INTEGER) AS pos,
    ROUND(CAST(SUM(CAST(ROUND(v * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS centroid,
    COUNT(*) AS n
FROM ex GROUP BY 1, 2
""",
)
def v1(spark, sf_dir):
    """Per-label embedding centroids (llm/similarity.py
    label_centroids) — class prototypes for nearest-centroid
    classification and coarse-quantizer refresh. Elements round to
    integer micro-units before the per-dimension sum (exact BIGINT
    agg, order-independent), so all labels × dims means hash-match
    the oracle bit-exactly."""
    from trisk_datawrangle_spark.llm.similarity import label_centroids

    return label_centroids(_embs(spark, sf_dir))


@q(
    "x20_tfidf_keywords",
    """
WITH toks AS (
    SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> w <> '')) AS gram
    FROM documents
), tf AS (
    SELECT doc_id, gram, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
    SELECT gram, COUNT(*) AS df FROM tf GROUP BY 1
), nd AS (SELECT COUNT(DISTINCT doc_id) AS N FROM documents),
scored AS (
    SELECT tf.doc_id, tf.gram,
        tf.tf * CAST(ROUND(ln(CAST(nd.N AS DOUBLE)
                              / CAST(dfreq.df AS DOUBLE)) * 1000000.0, 0)
                     AS BIGINT) AS score_micro
    FROM tf JOIN dfreq USING (gram) CROSS JOIN nd
), ranked AS (
    SELECT doc_id, gram, score_micro,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY score_micro DESC, gram ASC) AS rank
    FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, gram AS term, score_micro
FROM ranked WHERE rank <= 3
""",
)
def x20(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (llm/ranking.py
    tfidf_top_terms): tf is an int, idf rounds to integer micro-units
    once per term, so the score and its (desc, term) tiebreak are
    exact integer arithmetic — the whole ranking hash-matches the
    oracle with no float aggregation anywhere."""
    from trisk_datawrangle_spark.llm.ranking import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _v2_sql() -> str:
    """Nearest-centroid oracle: the v1 centroid CTE folded to ordered
    lists, cross-joined to every vector, cosine + pinned-tiebreak
    argmax."""
    return f"""
WITH ex AS (
    SELECT label,
        unnest(range(0, len(embedding))) AS pos,
        unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
), cent AS (
    SELECT label, CAST(pos AS INTEGER) AS pos,
        ROUND(CAST(SUM(CAST(ROUND(v * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS centroid
    FROM ex GROUP BY 1, 2
), carr AS (
    SELECT label, list(centroid ORDER BY pos) AS cvec FROM cent GROUP BY 1
), scored AS (
    SELECT e.vec_id, e.label AS true_label, c.label AS assigned_label,
        ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
              / (greatest(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))), 1e-12)
                 * greatest(sqrt(list_dot_product(c.cvec, c.cvec)), 1e-12)), 6) AS cosine
    FROM embeddings e CROSS JOIN carr c
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, assigned_label ASC)
              AS rk
    FROM scored
)
SELECT vec_id, true_label, assigned_label, cosine FROM ranked WHERE rk = 1
"""


@q("v2_nearest_centroid", _v2_sql())
def v2(spark, sf_dir):
    """Nearest-centroid classification against the v1 prototypes
    (llm/similarity.py nearest_centroid): cosine to each broadcast
    centroid, argmax with a pinned tiebreak — every per-vector
    assignment hash-matches the oracle."""
    from trisk_datawrangle_spark.llm.similarity import nearest_centroid

    return nearest_centroid(_embs(spark, sf_dir))


def _d12_sql() -> str:
    """Edit-distance verification oracle: the d3 exact pairs joined
    back to both texts, Levenshtein + length-normalized similarity."""
    return f"""
WITH jp AS ({_jaccard_pairs_sql(0.5)})
SELECT jp.id_a, jp.id_b,
    CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
    ROUND(1.0 - levenshtein(a.text, b.text)
          / greatest(length(a.text), length(b.text)), 6) AS edit_sim
FROM jp
JOIN documents a ON jp.id_a = a.doc_id
JOIN documents b ON jp.id_b = b.doc_id
"""


@q("d12_edit_distance_verify", _d12_sql())
def d12(spark, sf_dir):
    """Character-level verification tier for the dedup ladder: the
    exact-verified LSH pairs (d3) re-scored with Levenshtein edit
    distance and length-normalized similarity — the finer-grained
    check used when shingle Jaccard is too coarse (small edits inside
    long documents). Cost is |pairs| × |text|² DP, so it runs ONLY on
    the candidate pair set — never as a candidate generator; both
    engines implement the classic DP so the distances hash-match."""
    from trisk_datawrangle_spark.llm.dedup import minhash_lsh_dedup_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_dedup_pairs(
        docs, num_hashes=64, bands=32, threshold=0.5
    ).select("id_a", "id_b")
    ta = docs.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
    )
    joined = pairs.join(ta, "id_a").join(tb, "id_b")
    dist = F.levenshtein("text_a", "text_b")
    return joined.select(
        "id_a",
        "id_b",
        dist.cast("long").alias("edit_dist"),
        F.round(
            F.lit(1.0)
            - dist / F.greatest(F.length("text_a"), F.length("text_b")),
            6,
        ).alias("edit_sim"),
    )


def _x22_sql() -> str:
    """Mixture-sampling oracle: per-source token weights, min-weight
    acceptance rates, the identical md5 uniform, doc-level output."""
    u = md5_uniform_sql("doc_id", seed=5)
    return f"""
WITH dw AS (
    SELECT doc_id, source,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS BIGINT) AS w
    FROM documents
), eligible AS (SELECT * FROM dw WHERE w > 0),
wsum AS (
    SELECT source, SUM(w) AS tw FROM eligible GROUP BY 1
), m AS (SELECT MIN(tw) AS mw FROM wsum),
rates AS (
    SELECT wsum.source, CAST(m.mw AS DOUBLE) / CAST(wsum.tw AS DOUBLE) AS rate
    FROM wsum CROSS JOIN m
)
SELECT e.doc_id, e.source
FROM eligible e JOIN rates r ON e.source IS NOT DISTINCT FROM r.source
WHERE {u} <= r.rate
"""


def _x27_sql() -> str:
    """Temperature-mixture oracle: sqrt((min/w)) acceptance rates —
    alpha=0.5, the sqrt/division/min-only arithmetic both engines
    round identically (general pow() is libm-specific)."""
    u = md5_uniform_sql("doc_id", seed=6)
    return f"""
WITH dw AS (
    SELECT doc_id, source,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS BIGINT) AS w
    FROM documents
), eligible AS (SELECT * FROM dw WHERE w > 0),
wsum AS (
    SELECT source, SUM(w) AS tw FROM eligible GROUP BY 1
), m AS (SELECT MIN(tw) AS mw FROM wsum),
rates AS (
    SELECT wsum.source,
        sqrt(CAST(m.mw AS DOUBLE) / CAST(wsum.tw AS DOUBLE)) AS rate
    FROM wsum CROSS JOIN m
)
SELECT e.doc_id, e.source
FROM eligible e JOIN rates r ON e.source IS NOT DISTINCT FROM r.source
WHERE {u} <= r.rate
"""


@q("x27_temperature_mixture", _x27_sql())
def x27(spark, sf_dir):
    """Temperature-based mixture sampling (llm/sampling.py
    balance_sources with alpha=0.5): acceptance rate
    (min_weight/weight)^(1-alpha) — the multilingual temperature-
    sampling curve between full balance (alpha=0, x22) and no
    resampling (alpha=1), anchored at the smallest source so no
    cross-source float sum exists to go order-dependent. The sqrt
    exponent path is ulp-identical across engines, so every keep/
    drop decision hash-gates."""
    from trisk_datawrangle_spark.llm.sampling import balance_sources

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", token_count("text", "ws").alias("__t")
    )
    return balance_sources(
        d, "source", "__t", "doc_id", seed=6, alpha=0.5
    ).select("doc_id", "source")


@q("x22_mixture_sample", _x22_sql())
def x22(spark, sf_dir):
    """Source-balanced mixture sampling (llm/sampling.py
    balance_sources): every source downsampled to the smallest
    source's token budget via deterministic md5 acceptance — the
    data-mixing step of a corpus build, reproducible across reruns
    and engines. Doc-level output so each keep/drop decision is
    hash-gated."""
    from trisk_datawrangle_spark.llm.sampling import balance_sources

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", token_count("text", "ws").alias("__t")
    )
    return balance_sources(d, "source", "__t", "doc_id", seed=5).select(
        "doc_id", "source"
    )


def _x30_sql(k: int = 4, n_iter: int = 3, dim: int = 64) -> str:
    return _kmeans_ctes_sql(k, n_iter, dim) + """
SELECT id AS vec_id, CAST(j AS INTEGER) AS cluster,
    CAST(d AS BIGINT) AS dist_sq
FROM kfin
"""


def _x31_sql(k: int = 8, n_iter: int = 2, threshold: float = 0.45) -> str:
    return _kmeans_ctes_sql(k, n_iter) + f""",
ev AS (
    SELECT vec_id AS id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
nv AS (
    SELECT ev.id, v,
        greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n,
        kfin.j AS cluster
    FROM ev JOIN kfin ON ev.id = kfin.id
),
dups AS (
    SELECT DISTINCT b.id
    FROM nv a JOIN nv b ON a.cluster = b.cluster AND a.id < b.id
    WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= {threshold}
)
SELECT w.id AS vec_id, CAST(w.cluster AS INTEGER) AS cluster,
    (d.id IS NOT NULL) AS is_dup
FROM nv w LEFT JOIN dups d ON w.id = d.id
"""


@q("x30_kmeans_clusters", _x30_sql())
def x30(spark, sf_dir):
    """Deterministic k-means clustering of the embedding table
    (llm/clustering.py kmeans_embeddings): classic distributed
    Lloyd's — per iteration one codegen argmin pass over the corpus
    plus one k-row map-side-combinable aggregate; the k·dim centers
    are driver-bounded literals in the next iteration's plan.
    Embeddings quantized to exact integers up front so distances,
    sums, and re-quantized centers are pure integer arithmetic —
    every assignment hash-gates across engines bit-for-bit (the
    training-data mixture/SemDeDup clustering stage, reproducible
    by construction). No reference counterpart (LLM-pipeline
    surface)."""
    from trisk_datawrangle_spark.llm.clustering import kmeans_embeddings

    out = kmeans_embeddings(
        _embs(spark, sf_dir), "embedding", "vec_id", k=4, n_iter=3
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        "dist_sq",
    )


@q("x31_semdedup_clustered", _x31_sql())
def x31(spark, sf_dir):
    """SemDeDup proper (llm/clustering.py semdedup, arXiv:2303.09540):
    integer-exact k-means clusters bound the quadratic cosine tier —
    near-dup pairs are sought only WITHIN a cluster, so pair volume
    scales with cluster size, not corpus size (the 100 TB hand-off
    d14's all-pairs tier documents). Assignment is bit-identical
    across engines; the cosine gate rides the d5 margin contract.
    Output: full (vec_id, cluster, is_dup) verdict table."""
    from trisk_datawrangle_spark.llm.clustering import semdedup

    out = semdedup(
        _embs(spark, sf_dir), "embedding", "vec_id",
        k=8, n_iter=2, threshold=0.45,
    )
    return out.select(
        F.col("id").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        "is_dup",
    )


def _d15_sql() -> str:
    """d7's recursive min-label component oracle, but over the exact
    0.8-Jaccard pair set — the pair tier minhash_lsh_dedup_pairs
    verifies against exactly."""
    return f"""
WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(0.8)}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
lbl(node, comp) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, l.comp FROM edges e JOIN lbl l ON e.v = l.node
),
comp AS (SELECT node, MIN(comp) AS comp FROM lbl GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


@q("d15_dedup_clusters_scale", _d15_sql())
def d15(spark, sf_dir):
    """Near-dup clustering through the PREFIX-FILTER pair tier
    (``pair_tier="prefix"``): PPJoin prefix+positional filtering
    (d16's machinery — LOSSLESS exact pairs, measured sublinear
    8.6×/10× at sf10) feeding pointer-jumped connected components.
    Since r8 d7 gates the DEFAULT (LSH) tier against this same
    oracle, so this entry pins the OTHER candidate-bounded tier —
    two independent subquadratic paths must both reproduce the
    exhaustive pair graph's clusters bit-for-bit, proving the
    pair_tier knob is output-invariant at near-dup thresholds, not
    narrative."""
    from trisk_datawrangle_spark.llm.components import (
        dedup_clusters_pipeline,
    )

    docs = _docs(spark, sf_dir)
    return dedup_clusters_pipeline(
        docs, "text", "doc_id", threshold=0.8, pair_tier="prefix"
    )


_X32_SQL = """
WITH vocab AS (
    SELECT DISTINCT source, w FROM (
        SELECT source,
            unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS w
        FROM documents)
),
sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
common AS (
    SELECT a.source AS source_a, b.source AS source_b,
        CAST(COUNT(*) AS BIGINT) AS n_common
    FROM vocab a JOIN vocab b
        ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
)
SELECT c.source_a, c.source_b, c.n_common,
    ROUND(c.n_common / (sa.n + sb.n - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.source_a = sa.source
JOIN sizes sb ON c.source_b = sb.source
"""


@q("x32_source_vocab_overlap", _X32_SQL)
def x32(spark, sf_dir):
    """Corpus mixture analysis: pairwise vocabulary Jaccard between
    sources — the redundancy/domain-shift diagnostic a mixture build
    reads before setting sampling weights. Per-source DISTINCT
    vocabulary first (map-side combine collapses the corpus to its
    vocabulary), then a token-equijoin of the k(k-1)/2 source pairs —
    the shuffle is vocabulary-sized, never corpus-sized. Ratio
    rounded to 6 decimals (O(1)-scale ratio contract)."""
    docs = _docs(spark, sf_dir)
    vocab = docs.select(
        "source", F.explode(tokenize("text")).alias("w")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("source_a"), "w")
    b = vocab.select(F.col("source").alias("source_b"), "w")
    common = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


_X33_SQL = """
WITH t AS (
    SELECT source,
        len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
            AS n_tok
    FROM documents
)
SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    ROUND(quantile_cont(n_tok, 0.1), 6) AS p10,
    ROUND(quantile_cont(n_tok, 0.5), 6) AS p50,
    ROUND(quantile_cont(n_tok, 0.9), 6) AS p90
FROM t GROUP BY source
"""


@q("x33_length_profile", _X33_SQL)
def x33(spark, sf_dir):
    """Per-source document-length profile: exact p10/p50/p90 of
    whitespace token counts — the corpus report that decides chunking
    budgets and length filters per source. ONE group-aggregate (exact
    percentile rides the a4/x25 Spark⇄DuckDB exactness contract);
    no window, no global sort."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "source", token_count("text", "ws").alias("n_tok")
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_tok, 0.1)"), 6).alias("p10"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_tok, 0.9)"), 6).alias("p90"),
    )


# ---------------------------------------------------------------- #
# crawl front end (r8): WARC ingestion + HTML -> text extraction    #
# ---------------------------------------------------------------- #

from trisk_datawrangle_spark.llm.extract import (  # noqa: E402
    strip_html_expr,
    strip_html_sql,
)

#: The x46/s11 fixture HTML as ONE alternating literal/placeholder
#: parts list — the Spark expression, the DuckDB oracle expression,
#: AND s11's Python kernel all derive from it, so the template
#: cannot drift between the three (the strip_html_sql shared-data
#: idiom applied to the fixture itself).
_X46_PARTS: list[tuple[str, str]] = [
    ("lit", "<html><head><title>Doc "),
    ("id", ""),
    ("lit", "</title><style>p{margin:0}</style></head><body>"
            "<script>track("),
    ("id", ""),
    ("lit", ");</script><h1>Doc "),
    ("id", ""),
    ("lit", "</h1><p>"),
    ("text", ""),
    ("lit", "</p><div>tail &amp; &lt;entities&gt;</div>"
            "</body></html>"),
]


def _x46_sql_expr(id_expr: str, text_expr: str, joiner: str) -> str:
    terms = []
    for kind, lit in _X46_PARTS:
        if kind == "lit":
            terms.append("'" + lit.replace("'", "''") + "'")
        elif kind == "id":
            terms.append(id_expr)
        else:
            terms.append(text_expr)
    return "(" + joiner.join(terms) + ")"


def _x46_html_py(doc_id: int, text: str) -> str:
    out = []
    for kind, lit in _X46_PARTS:
        out.append(
            lit if kind == "lit"
            else (str(doc_id) if kind == "id" else text)
        )
    return "".join(out)


_X46_HTML_SPARK = "concat" + _x46_sql_expr(
    "CAST(doc_id AS STRING)", "text", ", "
)
_X46_HTML_DUCK = _x46_sql_expr(
    "CAST(doc_id AS VARCHAR)", "text", " || "
)


@q(
    "x46_html_extract",
    f"""
SELECT doc_id,
    {strip_html_sql(_X46_HTML_DUCK)} AS clean,
    CAST(length({strip_html_sql(_X46_HTML_DUCK)}) AS INTEGER)
        AS n_chars
FROM documents
""",
)
def x46(spark, sf_dir):
    """HTML → text extraction (the crawl pipeline's first content
    stage) as a PURE JVM regexp chain (llm/extract.py
    strip_html_expr): script/style bodies swallowed, comments
    dropped, block tags to newlines, remaining tags stripped,
    entities decoded, whitespace normalized. The chain's ordered
    (pattern, replacement) list is shared VERBATIM with the oracle's
    SQL builder (strip_html_sql), so both engines run the literally
    identical passes over identically constructed HTML — parity by
    shared data. Scale shape: zero Python, and the chain itself
    demands no distribution — on split/production inputs it fuses
    into the scan and runs at I/O speed like x9/x24; on the small
    unsplittable local fixtures the byte-gated fan-out (r12) spends
    one explicit repartition to spread the regex work off the
    single scan task."""
    # gated fan-out (r12, guide §2.5): the regexp chain is pure
    # per-row CPU on a one-task scan without it
    d = fan_out_scan(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    html = F.expr(_X46_HTML_SPARK)
    clean = strip_html_expr(html)
    return d.select(
        "doc_id",
        clean.alias("clean"),
        F.length(clean).cast("int").alias("n_chars"),
    )


_S11_ARCHIVE = 50   # response records per archive (plus 1 warcinfo)
_S11_CHUNK = 37     # data-chunk size for the chunked-encoded third


@q(
    "s11_warc_extract",
    f"""
WITH h AS (
    SELECT doc_id, doc_id // {_S11_ARCHIVE} AS archive_id,
        {_X46_HTML_DUCK} AS html
    FROM documents
)
SELECT doc_id,
    CAST(COUNT(*) OVER (PARTITION BY archive_id) + 1 AS INTEGER)
        AS n_records,
    -- doc_id%6: 0 = gzip+chunked composite (chunk count runs over
    -- COMPRESSED bytes, not text-derivable -> -1 sentinel), 3 =
    -- plain chunked (count replayable from the html byte length),
    -- 1/4 = Content-Encoding gzip, 2/5 = identity
    CAST(CASE doc_id % 6
         WHEN 0 THEN -1
         WHEN 3 THEN ceil(octet_length(encode(html)) / {_S11_CHUNK}.0)
         ELSE 0 END AS INTEGER) AS n_chunks,
    doc_id % 6 IN (0, 1, 4) AS gzipped,
    CAST(length(html) AS BIGINT) AS body_len,
    {strip_html_sql("html")} AS clean
FROM h
""",
)
def s11(spark, sf_dir):
    """WARC crawl-archive ingestion end to end (ISO 28500), at the
    REAL ingest shape: docs are packed _S11_ARCHIVE=50 to an archive
    (few huge .warc.gz files, not one blob per doc — what an actual
    crawl delivers at 100 TB), each archive BUILT as a gzip-membered
    WARC (warc_build: 1 warcinfo + 50 HTTP responses),
    PARSED back (warc_records — Content-Length-driven slicing,
    per-member inflate) and EXPLODED to per-document rows, doc
    identity recovered from the WARC-Target-URI header. Response
    codings by doc_id%6 — the mix a real capture delivers:

    0: ``Transfer-Encoding: gzip, chunked`` composite — the kernel
       dechunks THEN inflates (RFC 9112 order); the chunk count runs
       over COMPRESSED bytes (not text-derivable), so the column
       carries the -1 sentinel, and the decode itself is gated by
       gzipped/body_len/clean;
    3: plain chunked (http_chunk_encode → the strict dechunk walk),
       count replayable from the html byte length;
    1/4: ``Content-Encoding: gzip`` with Content-Length of the
       COMPRESSED body — the dominant real-capture spelling,
       inflated behind the PDF parser's 8 MB bomb cap;
    2/5: identity.

    The recovered HTML goes through the SAME JVM
    strip chain as x46 — kernels do bytes, Catalyst does text. The
    oracle replays the archive-size window count, the chunk-count
    and gzipped-arm arithmetic, and the shared strip chain, so a
    wrong record boundary, gzip member, header split, chunk frame,
    skipped/failed inflate, or URI parse flips the hash.

    Task balance at scale: parallelism is bounded by BYTES, not
    archive count — the archive table is repartitioned before the
    parse kernel, records-per-task = archives-per-task ×
    archive size, and a production reader sizes splits with
    spark.sql.files.maxPartitionBytes over the .warc.gz objects
    (records never span gzip members, so member boundaries are
    resumable split points)."""
    import gzip as _gzip

    import pandas as pd

    from trisk_datawrangle_spark.llm.extract import (
        http_chunk_encode,
        http_response,
        warc_build,
        warc_records,
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        records = [({"WARC-Type": "warcinfo"}, b"software: x\r\n")]
        for doc_id, text in zip(
            pdf["doc_id"].astype("int64"), pdf["text"]
        ):
            doc_id = int(doc_id)
            html = _x46_html_py(doc_id, text).encode()
            m = doc_id % 6
            if m == 0:
                # sender order gzip-then-chunked: chunk the gz bytes
                gz = _gzip.compress(html, 6, mtime=0)
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Transfer-Encoding: gzip, chunked\r\n\r\n"
                    + http_chunk_encode(gz, _S11_CHUNK)
                )
            elif m == 3:
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Transfer-Encoding: chunked\r\n\r\n"
                    + http_chunk_encode(html, _S11_CHUNK)
                )
            elif m in (1, 4):
                gz = _gzip.compress(html, 6, mtime=0)
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Content-Encoding: gzip\r\n"
                    + b"Content-Length: "
                    + str(len(gz)).encode()
                    + b"\r\n\r\n"
                    + gz
                )
            else:
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    + b"Content-Length: "
                    + str(len(html)).encode()
                    + b"\r\n\r\n"
                    + html
                )
            records.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": f"http://ex.com/{doc_id}",
                    },
                    http,
                )
            )
        return pd.DataFrame(
            {
                "archive_id": [int(pdf["archive_id"].iloc[0])],
                "payload": [warc_build(records, gzip_members=True)],
            }
        )

    def extract(batches):
        for pdf in batches:
            ids, nrecs, nchunks, gzs, bodies = [], [], [], [], []
            for payload in pdf["payload"]:
                recs = warc_records(bytes(payload))
                if recs is None or len(recs) < 2:
                    raise AssertionError("s11: archive parse failed")
                for headers, content in recs:
                    if headers.get("WARC-Type") != "response":
                        continue
                    uri = headers["WARC-Target-URI"]
                    doc_id = int(uri.rsplit("/", 1)[1])
                    got = http_response(content)
                    if got is None:
                        raise AssertionError(
                            f"s11: HTTP parse failed for doc {doc_id}"
                        )
                    body, n_chunks, gzipped = got
                    if doc_id % 6 == 0:
                        # composite arm (keyed on the FIXTURE
                        # arithmetic, not the decoder's own flags —
                        # a decoder that forgot to gzip or chunk
                        # must trip this, not sneak past): assert
                        # both layers actually decoded, then emit
                        # the documented -1 sentinel (the chunk
                        # count ran over COMPRESSED bytes, which the
                        # oracle cannot derive from text)
                        if not gzipped or n_chunks < 1:
                            raise AssertionError(
                                f"s11: composite arm decoded wrong "
                                f"for doc {doc_id} "
                                f"(gzipped={gzipped}, "
                                f"n_chunks={n_chunks})"
                            )
                        n_chunks = -1
                    ids.append(doc_id)
                    nrecs.append(len(recs))
                    nchunks.append(n_chunks)
                    gzs.append(gzipped)
                    bodies.append(body.decode())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_records": nrecs,
                    "n_chunks": nchunks,
                    "gzipped": gzs,
                    "html": bodies,
                }
            )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.floor(F.col("doc_id") / _S11_ARCHIVE).alias("archive_id"),
    )
    archives = d.groupBy("archive_id").applyInPandas(
        build, "archive_id long, payload binary"
    )
    archives = archives.repartition(
        spark.sparkContext.defaultParallelism
    )
    parsed = archives.mapInPandas(
        extract,
        "doc_id long, n_records int, n_chunks int, gzipped boolean,"
        " html string",
    )
    return parsed.select(
        "doc_id",
        "n_records",
        "n_chunks",
        "gzipped",
        F.length("html").cast("long").alias("body_len"),
        strip_html_expr("html").alias("clean"),
    )


_S13_PAGE = 12  # words per PDF page in the s13 fixture


@q(
    "s13_pdf_extract",
    f"""
WITH toks AS (
    SELECT doc_id,
        -- explicit class, NOT \\s: RE2's \\s excludes \\v while the
        -- kernel's Python class includes it — the sets must match
        list_filter(
            string_split_regex(text, '[ \\t\\n\\v\\f\\r]+'),
            x -> x <> ''
        ) AS words
    FROM documents
),
pg AS (
    SELECT doc_id,
        CAST(greatest(ceil(len(words) / {_S13_PAGE}.0), 1) AS BIGINT)
            AS n_pages
    FROM toks
),
pages AS (
    SELECT t.doc_id, i.i AS page_idx,
        array_to_string(
            t.words[i.i * {_S13_PAGE} + 1
                    : i.i * {_S13_PAGE} + {_S13_PAGE}],
            ' ') AS ptext
    FROM toks t JOIN pg USING (doc_id),
        unnest(generate_series(0, pg.n_pages - 1)) AS i(i)
)
SELECT p.doc_id,
    CAST(pg.n_pages AS INTEGER) AS n_pages,
    -- even docs build as PDF 1.5: xref STREAM + /ObjStm container
    -- (+2) and one plain-integer length object per page (indirect
    -- /Length); odd docs as classic PDF 1.4
    CAST(3 + 2 * pg.n_pages
         + CASE WHEN p.doc_id % 2 = 0
                THEN 2 + pg.n_pages ELSE 0 END
         AS INTEGER) AS n_objects,
    p.doc_id % 2 = 0 AS xref_stream,
    string_agg(p.ptext, chr(10) ORDER BY p.page_idx) AS clean
FROM pages p JOIN pg USING (doc_id)
GROUP BY p.doc_id, pg.n_pages
""",
)
def s13(spark, sf_dir):
    """PDF text extraction end to end (llm/pdf.py) — the other
    front-door crawl format beside WARC/HTML: per document the text
    is split into 12-word pages and BUILT into a spec-valid PDF —
    ODD doc_ids as classic PDF 1.4 (real xref table, 20-byte
    entries), EVEN doc_ids as PDF 1.5 (cross-reference STREAM with
    /W [1 4 2] rows under the PNG Up predictor, non-stream objects
    packed into an /ObjStm container addressed by type-2 entries —
    the majority class of post-2005 crawl PDFs) — then PARSED back
    xref-first: startxref → table/stream walk → object slicing with
    declared-object-number validation (type-2 members through the
    ObjStm N-pair header) → /Root → page tree → per-page /Contents
    → zlib inflate → Tj/TJ text ops with escape handling — and the
    kernel RAISES unless the recovered pages equal the built ones.
    The oracle replays the page-chunking arithmetic and the
    per-variant object-count formula (3 + 2·pages classic; 1.5 adds
    the ObjStm + XRef objects AND one plain-integer length object
    per page: 3 + 3·pages + 2), so a wrong xref offset, predictor row,
    ObjStm slice, stream length, escape, or page order flips the
    hash. Scale shape: bytes-level Arrow-batched mapInPandas like
    s11 — parallelism from partitioning, records never scanned for
    delimiters (offsets drive every slice)."""
    import re as _re

    import pandas as pd

    from trisk_datawrangle_spark.llm.pdf import (
        _parse_xref,
        pdf_build,
        pdf_text,
    )

    def extract(batches):
        for pdf in batches:
            ids, npages, nobjs, xstreams, cleans = [], [], [], [], []
            for doc_id, text in zip(
                pdf["doc_id"].astype("int64"), pdf["text"]
            ):
                doc_id = int(doc_id)
                words = [
                    w
                    for w in _re.split(r"[\t\n\x0b\x0c\r ]+", text)
                    if w
                ]
                pages = [
                    " ".join(words[i:i + _S13_PAGE])
                    for i in range(0, len(words), _S13_PAGE)
                ] or [""]
                use_stream = doc_id % 2 == 0
                payload = pdf_build(pages, xref_stream=use_stream)
                got = pdf_text(payload)
                if got != pages:
                    raise AssertionError(
                        f"s13: PDF roundtrip mismatch for doc "
                        f"{doc_id}"
                    )
                parsed = _parse_xref(payload)
                if parsed is None:
                    raise AssertionError(
                        f"s13: xref parse failed for doc {doc_id}"
                    )
                table, _trailer = parsed
                # present = direct offsets OR type-2 ObjStm members
                n_present = sum(
                    1
                    for e in table
                    if isinstance(e, tuple)
                    or (isinstance(e, int) and e >= 0)
                )
                if use_stream:
                    n_members = sum(
                        1 for e in table if isinstance(e, tuple)
                    )
                    # catalog + pages tree + font + page dicts ride
                    # in the ObjStm; a wrong member count means the
                    # type-2 rows mis-parsed even if text matched
                    if n_members != 3 + len(got):
                        raise AssertionError(
                            f"s13: ObjStm member count off for doc "
                            f"{doc_id}"
                        )
                ids.append(doc_id)
                npages.append(len(got))
                nobjs.append(n_present)
                xstreams.append(use_stream)
                cleans.append("\n".join(got))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_pages": npages,
                    "n_objects": nobjs,
                    "xref_stream": xstreams,
                    "clean": cleans,
                }
            )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return d.mapInPandas(
        extract,
        "doc_id long, n_pages int, n_objects int,"
        " xref_stream boolean, clean string",
    )


@q(
    "s14_pdf_glyph_extract",
    f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(
            string_split_regex(text, '[ \\t\\n\\v\\f\\r]+'),
            x -> x <> ''
        ) AS words
    FROM documents
),
pg AS (
    SELECT doc_id,
        CAST(greatest(ceil(len(words) / {_S13_PAGE}.0), 1) AS BIGINT)
            AS n_pages
    FROM toks
),
pages AS (
    SELECT t.doc_id, i.i AS page_idx,
        array_to_string(
            t.words[i.i * {_S13_PAGE} + 1
                    : i.i * {_S13_PAGE} + {_S13_PAGE}],
            ' ') AS ptext
    FROM toks t JOIN pg USING (doc_id),
        unnest(generate_series(0, pg.n_pages - 1)) AS i(i)
)
SELECT p.doc_id,
    CAST(pg.n_pages AS INTEGER) AS n_pages,
    -- subset font adds ONE object (the ToUnicode CMap stream,
    -- direct in both variants) on top of the s13 arithmetic; the
    -- mixed-font arm (doc%3=0) adds TWO (/F2 font dict + its CMap)
    CAST(CASE WHEN p.doc_id % 3 = 0 THEN 5 ELSE 4 END
         + 2 * pg.n_pages
         + CASE WHEN p.doc_id % 2 = 0
                THEN 2 + pg.n_pages ELSE 0 END
         AS INTEGER) AS n_objects,
    p.doc_id % 2 = 0 AS xref_stream,
    string_agg(p.ptext, chr(10) ORDER BY p.page_idx) AS clean
FROM pages p JOIN pg USING (doc_id)
GROUP BY p.doc_id, pg.n_pages
""",
)
def s14(spark, sf_dir):
    """PDF GLYPH decoding end to end (llm/pdf.py, r10 verdict
    Missing #1) — the fidelity rung above s13's structural walk:
    real crawled PDFs overwhelmingly use SUBSET fonts whose Tj
    string bytes are glyph indices, not character codes, so an
    extractor without the font's decode channels returns mojibake
    that no downstream gate can detect. Same page chunking and
    1.4/1.5 xref rotation as s13, but every document builds with a
    glyph-coded font: codes are assigned sequentially from 0x21
    over the ord-sorted distinct chars (non-identity by
    construction — the kernel ASSERTS the coding differs from
    identity, so the fixture cannot silently degenerate into
    the identity case), and the mapping deliberately SPLITS across
    the two public decode channels — every 7th AGL-named char lives
    ONLY in ``/Encoding /Differences`` (resolved through the Adobe
    Glyph List subset), the rest ONLY in the ``/ToUnicode`` CMap
    (bfchar singles + bfranges in BOTH destination forms, Flate-
    compressed stream object) — so an extractor implementing one
    channel but not the other fails the roundtrip. Every THIRD doc
    builds ``mixed_fonts``: each page shows its first half through
    the identity /F1 and its second half through the coded /F2 with
    a mid-stream ``/F2 12 Tf`` text-state switch — the shape every
    real multi-font page has; an extractor resolving one font per
    page (the first s14 cut) would decode the /F2 half as latin-1
    mojibake and fail. The oracle
    replays the chunking and the per-variant object arithmetic
    (+1 CMap stream object over s13: streams may not live in an
    ObjStm, so it stays direct in the 1.5 variant too; +2 for the
    mixed arm's /F2 dict, which DOES ride the ObjStm,
    member-count-asserted). Scale
    shape: bytes-level Arrow-batched mapInPandas like s13 — no
    shuffle, embarrassingly parallel; hostile CMaps/Differences
    (dup codes, hi<lo ranges, odd hex, lone surrogates, non-gen-0
    refs, unmapped codes) refuse loudly, fuzz-gated in
    tests/test_parser_fuzz.py."""
    import pandas as pd

    import re as _re

    from trisk_datawrangle_spark.llm.pdf import (
        _glyph_coder,
        _parse_xref,
        pdf_build,
        pdf_text,
    )

    def extract(batches):
        for pdf in batches:
            ids, npages, nobjs, xstreams, cleans = [], [], [], [], []
            for doc_id, text in zip(
                pdf["doc_id"].astype("int64"), pdf["text"]
            ):
                doc_id = int(doc_id)
                words = [
                    w
                    for w in _re.split(r"[\t\n\x0b\x0c\r ]+", text)
                    if w
                ]
                pages = [
                    " ".join(words[i:i + _S13_PAGE])
                    for i in range(0, len(words), _S13_PAGE)
                ] or [""]
                use_mixed = doc_id % 3 == 0
                coded_src = (
                    [t[len(t) // 2:] for t in pages]
                    if use_mixed
                    else pages
                )
                code_of, _diff, _cmap = _glyph_coder(coded_src)
                if all(code == ord(ch) for ch, code in code_of.items()):
                    raise AssertionError(
                        f"s14: identity coding for doc {doc_id} — "
                        "the glyph fixture is vacuous"
                    )
                use_stream = doc_id % 2 == 0
                payload = pdf_build(
                    pages,
                    xref_stream=use_stream,
                    subset_font=not use_mixed,
                    mixed_fonts=use_mixed,
                )
                got = pdf_text(payload)
                if got != pages:
                    raise AssertionError(
                        f"s14: glyph roundtrip mismatch for doc "
                        f"{doc_id}"
                    )
                parsed = _parse_xref(payload)
                if parsed is None:
                    raise AssertionError(
                        f"s14: xref parse failed for doc {doc_id}"
                    )
                table, _trailer = parsed
                n_present = sum(
                    1
                    for e in table
                    if isinstance(e, tuple)
                    or (isinstance(e, int) and e >= 0)
                )
                if use_stream:
                    n_members = sum(
                        1 for e in table if isinstance(e, tuple)
                    )
                    # the CMap stream must NOT ride in the ObjStm;
                    # the mixed arm's /F2 font dict MUST
                    want_members = (4 if use_mixed else 3) + len(got)
                    if n_members != want_members:
                        raise AssertionError(
                            f"s14: ObjStm member count off for doc "
                            f"{doc_id}"
                        )
                ids.append(doc_id)
                npages.append(len(got))
                nobjs.append(n_present)
                xstreams.append(use_stream)
                cleans.append("\n".join(got))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_pages": npages,
                    "n_objects": nobjs,
                    "xref_stream": xstreams,
                    "clean": cleans,
                }
            )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return d.mapInPandas(
        extract,
        "doc_id long, n_pages int, n_objects int,"
        " xref_stream boolean, clean string",
    )


@q(
    "s15_pdf_type0_extract",
    f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(
            string_split_regex(text, '[ \\t\\n\\v\\f\\r]+'),
            x -> x <> ''
        ) AS words
    FROM documents
),
pg AS (
    SELECT doc_id,
        CAST(greatest(ceil(len(words) / {_S13_PAGE}.0), 1) AS BIGINT)
            AS n_pages
    FROM toks
),
pages AS (
    SELECT t.doc_id, i.i AS page_idx,
        array_to_string(
            t.words[i.i * {_S13_PAGE} + 1
                    : i.i * {_S13_PAGE} + {_S13_PAGE}],
            ' ') AS ptext
    FROM toks t JOIN pg USING (doc_id),
        unnest(generate_series(0, pg.n_pages - 1)) AS i(i)
)
SELECT p.doc_id,
    CAST(pg.n_pages AS INTEGER) AS n_pages,
    -- the Type0 arm (doc%3=0) adds TWO objects over the s13 base
    -- (descendant CIDFont dict + the 2-byte-code ToUnicode CMap
    -- stream); the hex-string and quote-operator subset arms add
    -- ONE (the CMap stream)
    CAST(CASE WHEN p.doc_id % 3 = 0 THEN 5 ELSE 4 END
         + 2 * pg.n_pages
         + CASE WHEN p.doc_id % 2 = 0
                THEN 2 + pg.n_pages ELSE 0 END
         AS INTEGER) AS n_objects,
    p.doc_id % 2 = 0 AS xref_stream,
    p.doc_id % 3 = 0 AS type0,
    string_agg(p.ptext, chr(10) ORDER BY p.page_idx) AS clean
FROM pages p JOIN pg USING (doc_id)
GROUP BY p.doc_id, pg.n_pages
""",
)
def s15(spark, sf_dir):
    """Type0/Identity-H composite fonts + hex-string show operands
    (llm/pdf.py, r11 verdict Missing #1) — the fidelity rung above
    s14's simple subset fonts, and the DOMINANT form in real crawls:
    modern writers embed Type0 fonts whose show strings are 2-byte
    glyph codes emitted as HEX string objects (``<0041> Tj``), text
    meaning carried only by a wide-code ToUnicode CMap. Before r12
    the content scan consumed only ``(...)`` literals, so a hex
    operand was SILENTLY SKIPPED — partial/empty extraction, the one
    refuse-loudly violation in the module (r11 verdict); now both
    string object forms decode and an inline ``<<`` dict refuses
    loudly. Same page chunking and 1.4/1.5 xref rotation as s13,
    three arms: doc%3=0 builds a Type0/Identity-H composite (2-byte
    codes from 1, hex operands split across ``Tj`` and the ``'``
    move-and-show operator — both composite show forms); doc%3=1 a
    glyph-coded SIMPLE subset shown entirely through hex operands
    (``<..> Tj`` head + kerned ``[<..> -250 <..>] TJ`` array tail);
    doc%3=2 the same subset shown through all THREE literal
    operator forms ``(A) Tj (B) ' 1 2 (C) "``. The kernel asserts
    the coding is non-identity (the fixture cannot degenerate), the
    roundtrip is exact, and the 1.5 ObjStm member count matches the
    arm (the descendant CIDFont dict RIDES the ObjStm, the CMap
    stream must NOT). The oracle replays the chunking and the
    per-arm object arithmetic (+2 Type0 / +1 subset over s13).
    Hostile composite shapes (Identity-V, named CMaps, /Differences
    on a Type0, missing ToUnicode, odd byte counts, unmapped wide
    codes, malformed hex, inline dicts) refuse loudly — fuzz-gated
    via the pdf_type0/pdf_hex seeds in tests/test_parser_fuzz.py.
    Scale shape: bytes-level Arrow-batched mapInPandas like s13 —
    shuffle-free, embarrassingly parallel, linear in documents."""
    import pandas as pd

    import re as _re

    from trisk_datawrangle_spark.llm.pdf import (
        _glyph_coder,
        _parse_xref,
        pdf_build,
        pdf_text,
    )

    def extract(batches):
        for pdf in batches:
            ids, npages, nobjs = [], [], []
            xstreams, t0s, cleans = [], [], []
            for doc_id, text in zip(
                pdf["doc_id"].astype("int64"), pdf["text"]
            ):
                doc_id = int(doc_id)
                words = [
                    w
                    for w in _re.split(r"[\t\n\x0b\x0c\r ]+", text)
                    if w
                ]
                pages = [
                    " ".join(words[i:i + _S13_PAGE])
                    for i in range(0, len(words), _S13_PAGE)
                ] or [""]
                arm = doc_id % 3
                use_type0 = arm == 0
                code_of, _d, _c = _glyph_coder(
                    pages, width=2 if use_type0 else 1
                )
                if all(
                    code == ord(ch) for ch, code in code_of.items()
                ):
                    raise AssertionError(
                        f"s15: identity coding for doc {doc_id} — "
                        "the glyph fixture is vacuous"
                    )
                use_stream = doc_id % 2 == 0
                payload = pdf_build(
                    pages,
                    xref_stream=use_stream,
                    subset_font=not use_type0,
                    type0=use_type0,
                    hex_strings=arm == 1,
                    quote_ops=arm == 2,
                )
                got = pdf_text(payload)
                if got != pages:
                    raise AssertionError(
                        f"s15: roundtrip mismatch for doc {doc_id} "
                        f"(arm {arm})"
                    )
                parsed = _parse_xref(payload)
                if parsed is None:
                    raise AssertionError(
                        f"s15: xref parse failed for doc {doc_id}"
                    )
                table, _trailer = parsed
                n_present = sum(
                    1
                    for e in table
                    if isinstance(e, tuple)
                    or (isinstance(e, int) and e >= 0)
                )
                if use_stream:
                    n_members = sum(
                        1 for e in table if isinstance(e, tuple)
                    )
                    # the descendant CIDFont dict rides the ObjStm;
                    # the CMap stream must not
                    want_members = (4 if use_type0 else 3) + len(got)
                    if n_members != want_members:
                        raise AssertionError(
                            f"s15: ObjStm member count off for doc "
                            f"{doc_id}"
                        )
                ids.append(doc_id)
                npages.append(len(got))
                nobjs.append(n_present)
                xstreams.append(use_stream)
                t0s.append(use_type0)
                cleans.append("\n".join(got))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_pages": npages,
                    "n_objects": nobjs,
                    "xref_stream": xstreams,
                    "type0": t0s,
                    "clean": cleans,
                }
            )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return d.mapInPandas(
        extract,
        "doc_id long, n_pages int, n_objects int,"
        " xref_stream boolean, type0 boolean, clean string",
    )


@q(
    "x50_link_graph",
    """
WITH links AS (
    SELECT d.doc_id,
        'host' || CAST((d.doc_id * 7 + i.i * 13) % 23 AS VARCHAR)
            || '.example.com' AS host
    FROM documents d,
        unnest(generate_series(0, d.doc_id % 4)) AS i(i)
    -- rel=nofollow anchors never enter the graph
    WHERE (d.doc_id + i.i) % 5 <> 0
)
SELECT host,
    CAST(COUNT(*) AS BIGINT) AS in_degree,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM links
GROUP BY host
""",
)
def x50(spark, sf_dir):
    """Link-graph extraction — the crawl-frontier statistic behind
    scheduling and link-based quality signals: each doc's HTML
    carries 1-4 anchor tags (mixed-case scheme/host, query string,
    fragment — built as ONE JVM concat expression so the fixture is
    oracle-reconstructible), hrefs are pulled with the nofollow-
    honoring anchor extractor (llm/extract.py anchor_hrefs_expr —
    every (doc_id+i)%5==0 anchor carries ``rel=nofollow`` in rotated
    spellings: single-quoted multi-token rel BEFORE href vs
    double-quoted after, and %5==1 anchors carry a keep-rel decoy;
    a frontier that follows nofollow links violates the one
    politeness channel page authors control directly, r10 verdict
    Missing #5), normalized (strip fragment, lowercase), the host is
    sliced out of the URL, and per-host in-degree / distinct-linker
    counts aggregate. The oracle generates the SAME hosts from the
    link arithmetic directly MINUS the nofollow arm, so a mis-parsed
    href, missed anchor, followed-nofollow link, broken
    normalization, or wrong host slice changes the counts and flips
    the hash. Scale shape: extraction fuses
    into the scan (zero Python, like x46); one explode + one
    map-side-combinable groupBy on the host key — the plan survives
    any corpus size; hot hosts (every real link graph has them) are
    exactly the k1/k2 salting case if the aggregate ever skews."""
    from trisk_datawrangle_spark.llm.extract import anchor_hrefs_expr

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body>"),
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0), did % 4),
                lambda i: F.concat(
                    F.lit("<p>see <a "),
                    # rel=nofollow arms (every (did+i)%5==0 anchor
                    # must DROP): single-quoted multi-token rel
                    # BEFORE href on the %10 half, double-quoted
                    # rel AFTER href on the other; (did+i)%5==1
                    # anchors carry a KEEP-rel decoy
                    F.when(
                        (did + i) % 10 == 0,
                        F.lit("rel='External NOFOLLOW' "),
                    ).otherwise(F.lit("")),
                    F.lit('HREF="HTTP://Host'),
                    ((did * 7 + i * 13) % 23).cast("string"),
                    F.lit(".Example.com/p/"),
                    did.cast("string"),
                    F.lit("?q=1#frag"),
                    i.cast("string"),
                    F.lit('"'),
                    F.when(
                        ((did + i) % 5 == 0) & ((did + i) % 10 != 0),
                        F.lit(' REL="NoFollow"'),
                    ).when(
                        (did + i) % 5 == 1,
                        F.lit(' rel="author canonical"'),
                    ).otherwise(F.lit("")),
                    F.lit(">link</a></p>"),
                ),
            ),
            F.lit(""),
            lambda acc, x: F.concat(acc, x),
        ),
        F.lit("</body></html>"),
    )
    hrefs = anchor_hrefs_expr(F.col("html"))
    links = (
        d.withColumn("html", html)
        .select("doc_id", F.explode(hrefs).alias("url"))
        .select(
            "doc_id",
            F.lower(
                F.regexp_replace(F.col("url"), "#.*$", "")
            ).alias("url"),
        )
        .select(
            "doc_id",
            F.regexp_extract(
                F.col("url"), "^[a-z]+://([^/]+)/", 1
            ).alias("host"),
        )
    )
    return links.groupBy("host").agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


_X48_SEG = 3          # words per "line" segment
_X48_MAX_DF = 2       # segments seen in more docs than this are
                      # boilerplate and get scrubbed


@q(
    "x48_line_dedup",
    f"""
WITH toks AS (
    SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS words
    FROM documents
),
segs AS (
    SELECT doc_id, i.i AS seg_idx,
        array_to_string(
            words[i.i * {_X48_SEG} + 1 : i.i * {_X48_SEG} + {_X48_SEG}],
            ' ') AS seg
    FROM toks,
        unnest(generate_series(
            0, CAST(ceil(len(words) / {_X48_SEG}.0) AS BIGINT) - 1
        )) AS i(i)
),
df AS (
    SELECT seg, COUNT(DISTINCT doc_id) AS n_docs
    FROM segs GROUP BY seg
),
kept AS (
    SELECT s.doc_id, s.seg_idx, s.seg
    FROM segs s JOIN df USING (seg)
    WHERE df.n_docs <= {_X48_MAX_DF}
)
SELECT t.doc_id,
    COALESCE(k.clean, '') AS clean,
    CAST(COALESCE(k.n_kept, 0) AS INTEGER) AS n_kept,
    CAST((SELECT CAST(ceil(len(t2.words) / {_X48_SEG}.0) AS BIGINT)
          FROM toks t2 WHERE t2.doc_id = t.doc_id) AS INTEGER)
        AS n_segments
FROM toks t
LEFT JOIN (
    SELECT doc_id,
        string_agg(seg, ' ' ORDER BY seg_idx) AS clean,
        COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
) k USING (doc_id)
""",
)
def x48(spark, sf_dir):
    """Cross-document line dedup (the CCNet boilerplate scrub,
    Wenzek et al. 2020 — public method, segment-granular here since
    the fixture has no newlines): each doc is cut into fixed 3-word
    segments, a corpus-wide document-frequency pass finds segments
    appearing in more than {max_df} docs (navigation chrome,
    licenses, injected templates), those are dropped EVERYWHERE, and
    each doc is reassembled from its surviving segments in order.
    Scale shape: one explode + one segment-keyed aggregate (map-side
    combinable) + one semi-join back + one per-doc sort_array
    reassembly — the x36/x39 span-scrub idiom at line granularity;
    nothing driver-side, nothing quadratic. The oracle replays the
    identical segmentation arithmetic, df gate, and ordered
    reassembly."""
    d = _docs(spark, sf_dir)
    words = tokenize("text")
    n_segs = F.ceil(F.size(words) / F.lit(float(_X48_SEG))).cast("int")
    toks = d.select("doc_id", words.alias("words"),
                    n_segs.alias("n_segments"))
    # guard the zero-segment case explicitly: Spark's
    # sequence(0, -1) auto-steps DOWN and yields [0, -1] — two
    # phantom empty segments a token-less document must not get
    # (the DuckDB oracle's generate_series(0, -1) is empty)
    seg_array = F.when(
        F.col("n_segments") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("n_segments") - 1),
            lambda i: F.array_join(
                F.slice(F.col("words"), i * _X48_SEG + 1, _X48_SEG),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = toks.select(
        "doc_id",
        "n_segments",
        F.posexplode(seg_array).alias("seg_idx", "seg"),
    )
    df_counts = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("__df")
    )
    kept = (
        segs.join(
            df_counts.filter(F.col("__df") <= _X48_MAX_DF).select("seg"),
            "seg",
            "left_semi",
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("seg_idx", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean"),
            F.count(F.lit(1)).cast("int").alias("n_kept"),
        )
    )
    return (
        toks.select("doc_id", "n_segments")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean", F.lit("")).alias("clean"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            "n_segments",
        )
    )


def _x49_sql(n_merges: int = 4) -> str:
    """Unrolled BPE-training oracle (the x30 k-means idiom): one
    (pairs -> argmax -> rewrite) CTE trio per merge rank, the argmax
    feeding the next round's rewrite through a 1-row cross join —
    DuckDB replays the exact training loop, tiebreaks included."""
    parts = ["""
WITH v0 AS (
    SELECT ',,' || regexp_replace(w, '(.)', '\\1,,', 'g') AS s, n
    FROM (
        SELECT w, COUNT(*) AS n FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS w
            FROM documents)
        GROUP BY w)
)"""]
    for r in range(1, n_merges + 1):
        prev = f"v{r - 1}"
        parts.append(f""",
p{r} AS (
    SELECT sy[i.i] AS a, sy[i.i + 1] AS b, SUM(n) AS cnt
    FROM (
        SELECT list_filter(string_split(s, ',,'), x -> x <> '') AS sy,
               n
        FROM {prev}) t,
        unnest(generate_series(1, len(sy) - 1)) AS i(i)
    WHERE len(sy) >= 2
    GROUP BY 1, 2
),
m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
v{r} AS (
    SELECT replace({prev}.s,
                   ',' || m{r}.a || ',,' || m{r}.b || ',',
                   ',' || m{r}.a || m{r}.b || ',') AS s, {prev}.n
    FROM {prev}, m{r}
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, a AS lhs, b AS rhs, a || b AS merged, "
        f"CAST(cnt AS BIGINT) AS n FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n" + sel


@q("x49_bpe_train", _x49_sql())
def x49(spark, sf_dir):
    """BPE tokenizer TRAINING (Sennrich et al. 2016, public): learn
    the top-4 merges from the corpus — each round one vocab-sized
    pair aggregate, a 1-row argmax, and a codegen vocabulary rewrite
    (llm/text.py bpe_train; the x26 statistic iterated, feeding the
    x37 applier). The oracle unrolls the identical loop as SQL CTEs
    (x30's k-means pattern) — a wrong pair count, tiebreak, or
    rewrite in ANY round cascades into every later round's argmax
    and flips the hash. The learned (rank, lhs, rhs, merged, n)
    table IS the tokenizer artifact a packing/budgeting pipeline
    consumes via bpe_encode_stats."""
    from trisk_datawrangle_spark.llm.text import bpe_train

    d = _docs(spark, sf_dir)
    return bpe_train(d, n_merges=4)


def _c5_sql() -> str:
    """Datasheet oracle composed from the shared building blocks:
    the x1 language CTE, the x3 quality CTE (micros-summed for an
    order-independent mean), ws token counts, within-source exact
    dup counts, and the a4 exact-percentile contract."""
    return f"""
WITH lang AS ({_LANG_SQL}),
q AS ({_QUALITY_SQL}),
tok AS (
    SELECT doc_id, source,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS BIGINT) AS n_ws,
        text
    FROM documents
),
dup AS (
    SELECT t.doc_id, t.source,
        COUNT(*) OVER (PARTITION BY t.source, t.text) AS n_same
    FROM tok t
)
SELECT t.source,
    COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN d.n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_exact_dup_docs,
    CAST(SUM(t.n_ws) AS BIGINT) AS total_ws_tokens,
    CAST(SUM(CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_english,
    ROUND(CAST(SUM(CAST(round(q.quality * 1000000) AS BIGINT))
               AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_quality,
    ROUND(quantile_cont(t.n_ws, 0.5), 1) AS p50_ws_tokens
FROM tok t
JOIN lang l USING (doc_id)
JOIN q USING (doc_id)
JOIN dup d ON t.doc_id = d.doc_id
GROUP BY t.source
"""


@q("c5_corpus_datasheet", _c5_sql())
def c5(spark, sf_dir):
    """Corpus DATASHEET — the per-source accounting table a corpus
    release ships (Gebru et al. 'Datasheets for Datasets', public):
    doc counts, within-source exact-dup counts, whitespace-token
    totals, English share, order-independent mean quality (summed
    as exact integer micros — the money-sum idiom applied to a
    score), and the exact p50 token count — SIX operator families
    (lang-id, quality, token stats, dedup, median, aggregation)
    composed into ONE plan: two window functions + one grouped
    aggregate over a single scan, every intermediate a column, no
    collect. The oracle assembles the SAME numbers from the shared
    x1/x3 SQL blocks, so a drift in any constituent flips the
    datasheet's hash."""
    from pyspark.sql import Window

    from trisk_datawrangle_spark.functions.aggregates import median

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    w_dup = Window.partitionBy("source", "text")
    scored = d.select(
        "doc_id",
        "source",
        lang_id("text").alias("lang_pred"),
        F.round(quality_score("text"), 6).alias("quality"),
        token_count("text", mode="ws").cast("long").alias("n_ws"),
        (F.count(F.lit(1)).over(w_dup) > 1).alias("is_dup"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_exact_dup_docs"),
        F.sum("n_ws").alias("total_ws_tokens"),
        F.sum(
            (F.col("lang_pred") == "en").cast("long")
        ).alias("n_english"),
        F.round(
            F.sum(
                F.round(F.col("quality") * 1000000).cast("long")
            ).cast("double")
            / F.count(F.lit(1))
            / 1000000.0,
            6,
        ).alias("mean_quality"),
        F.round(median("n_ws"), 1).alias("p50_ws_tokens"),
    )


# ---------------------------------------------------------------- #
# crawl politeness + charset front door (round 9)                   #
# ---------------------------------------------------------------- #


def _robots_fixture_body(h: int) -> str:
    """The 23-host robots.txt fixture body — ONE builder shared by
    the rules dimension (x51/w5), the meta dimension (x55/w5 delay),
    and their oracles' arithmetic. Each host's body carries full
    lexer noise (comments, blank lines, case-varied directive
    spellings, CRLF on odd hosts, the empty-Disallow idiom) plus a
    decoy ``otherbot`` ``Disallow: /`` group WITH a decoy
    ``Crawl-delay: 99`` that must never surface; hosts with h%3==0
    carry a specific ``trisk-crawler`` group (OVERRIDES the ``*``
    group — its ``Crawl-delay: (h%7)+2`` wins over the ``*`` group's
    ``Crawl-delay: 7``). Sitemap lines are GLOBAL: every host
    advertises ``/sm/{h%3}.xml`` with case/default-port noise (the
    x52 canonicalization edge), and h%4==0 hosts add a second
    lowercase no-space ``sitemap:.../extra.xml`` at the very end."""
    nl = "\r\n" if h % 2 else "\n"
    ua, dis, al = (
        ("USER-AGENT", "DISALLOW", "ALLOW")
        if h % 2
        else ("User-agent", "Disallow", "Allow")
    )
    lines = [
        f"# robots fixture, host {h}",
        f"Sitemap: HTTP://Host{h}.Example.com:80/sm/{h % 3}.xml",
        f"{ua}: otherbot",
        f"{dis}: /",
        "Crawl-delay: 99",  # decoy group's delay: must never apply
        "",
    ]
    if h % 3 == 0:
        lines += [
            f"{ua}: trisk-crawler",
            f"{al}: /p/{h % 5}/ok$",
            f"{dis}: /p/{h % 5}*",
            f"Crawl-delay: {(h % 7) + 2}",
            "",
        ]
    lines += [
        f"{ua}: *",
        f"{dis}: /q/",
        f"{dis}:",          # empty path: ignored per RFC
        f"{al}: /q/open",
    ]
    if h % 11 != 5:
        # hosts 5 and 16 (neither carries a specific group) publish
        # NO Crawl-delay at all — the common real-world case; the
        # scheduler (x57) must pin an explicit default, not
        # propagate NULL etas (r10 verdict Wrong #2)
        lines.append("Crawl-delay: 7")
    if h % 4 == 0:
        lines.append(f"sitemap:http://host{h}.example.com/extra.xml")
    return nl.join(lines)


def _robots_fixture_meta(spark):
    """The control-plane META dimension from the SAME fixture bodies:
    per host the selected crawl delay and the advertised sitemap
    URLs (raw, file order) via parse_robots_full — broadcastable
    like the rules dimension."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.robots import parse_robots_full

    def build_meta(batches):
        for pdf in batches:
            hs, idxs, sms, delays = [], [], [], []
            for h in pdf["id"].astype("int64"):
                h = int(h)
                meta = parse_robots_full(
                    _robots_fixture_body(h), "trisk-crawler"
                )
                if not meta["sitemaps"]:
                    raise AssertionError(
                        f"robots fixture: empty meta for host {h}"
                    )
                # self-check: delay is None exactly on the no-delay
                # hosts (h%11==5) — anything else is a parser drift
                if (meta["crawl_delay"] is None) != (h % 11 == 5):
                    raise AssertionError(
                        f"robots fixture: delay drift for host {h}"
                    )
                for i, sm in enumerate(meta["sitemaps"]):
                    hs.append(h)
                    idxs.append(i)
                    sms.append(sm)
                    delays.append(meta["crawl_delay"])
            yield pd.DataFrame(
                {
                    "h": hs,
                    "sm_idx": idxs,
                    "sitemap_raw": sms,
                    # nullable Float64, NOT float64: a None delay
                    # must cross Arrow as NULL, not NaN (NaN would
                    # diverge from the oracle's SQL NULL)
                    "crawl_delay": pd.array(delays, dtype="Float64"),
                }
            )

    return spark.range(23).mapInPandas(
        build_meta,
        "h long, sm_idx int, sitemap_raw string, crawl_delay double",
    )


def _robots_fixture_rules(spark):
    """The shared 23-host robots.txt rules dimension used by x51 and
    w5 — ONE fixture builder so the entries cannot drift apart
    (bodies from :func:`_robots_fixture_body`, shared with the
    x55/w5 meta dimension). Parsed by the REAL parser
    (llm/robots.py) into a broadcastable (h, verb, pattern, plen,
    rx) rules DataFrame."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.robots import robots_rules

    def build_rules(batches):
        for pdf in batches:
            hs, verbs, pats, plens, rxs = [], [], [], [], []
            for h in pdf["id"].astype("int64"):
                h = int(h)
                rules = robots_rules(
                    _robots_fixture_body(h), "trisk-crawler"
                )
                if not rules:
                    raise AssertionError(
                        f"robots fixture: empty rule set for host {h}"
                    )
                for verb, pattern, plen, rx in rules:
                    hs.append(h)
                    verbs.append(verb)
                    pats.append(pattern)
                    plens.append(plen)
                    rxs.append(rx)
            yield pd.DataFrame(
                {
                    "h": hs,
                    "verb": verbs,
                    "pattern": pats,
                    "plen": plens,
                    "rx": rxs,
                }
            )

    return spark.range(23).mapInPandas(
        build_rules,
        "h long, verb string, pattern string, plen int, rx string",
    )


def _with_host_path(frontier: DataFrame) -> DataFrame:
    """``frontier`` plus the fixture host number ``h`` (the N of a
    ``hostN.example.com`` canonical URL, the rules and meta dimensions'
    key) and the URL ``path`` the robots verdict matches. A canon the
    host pattern misses gets a NULL ``h``: ``nullif`` keeps its ''
    off the bigint cast, which ANSI mode rejects."""
    canon = F.col("canon")
    return frontier.select(
        "*",
        F.nullif(
            F.regexp_extract(canon, "^[a-z]+://host([0-9]+)\\.", 1),
            F.lit(""),
        ).cast("long").alias("h"),
        F.regexp_extract(canon, "^[a-z]+://[^/]+(/.*)", 1).alias("path"),
    )


@q(
    "x51_robots_filter",
    """
WITH hosts AS (
    SELECT CAST(i AS BIGINT) AS h FROM generate_series(0, 22) t(i)
),
rules AS (
    SELECT h, 'allow' AS verb,
        '/p/' || CAST(h % 5 AS VARCHAR) || '/ok$' AS pattern
    FROM hosts WHERE h % 3 = 0
    UNION ALL
    SELECT h, 'disallow',
        '/p/' || CAST(h % 5 AS VARCHAR) || '*'
    FROM hosts WHERE h % 3 = 0
    UNION ALL
    SELECT h, 'disallow', '/q/' FROM hosts WHERE h % 3 <> 0
    UNION ALL
    SELECT h, 'allow', '/q/open' FROM hosts WHERE h % 3 <> 0
),
rx AS (
    SELECT h, verb, pattern,
        CAST(length(pattern) AS INTEGER) AS plen,
        CASE WHEN pattern LIKE '%$'
             THEN '^' || replace(left(pattern, length(pattern) - 1),
                                 '*', '.*') || '$'
             ELSE '^' || replace(pattern, '*', '.*') END AS rx
    FROM rules
),
frontier AS (
    SELECT d.doc_id, d.doc_id % 23 AS h, j.j AS url_idx,
        CASE j.j
            WHEN 0 THEN '/p/' || CAST(d.doc_id % 5 AS VARCHAR) || '/x'
            WHEN 1 THEN '/q/' || CAST(d.doc_id AS VARCHAR)
            WHEN 2 THEN '/q/open' || CAST(d.doc_id AS VARCHAR)
            ELSE '/p/' || CAST((d.doc_id % 23) % 5 AS VARCHAR) || '/ok'
        END AS path
    FROM documents d,
        unnest(generate_series(0, 2 + d.doc_id % 2)) AS j(j)
),
m AS (
    SELECT f.doc_id, f.url_idx, r.verb, r.pattern,
        row_number() OVER (
            PARTITION BY f.doc_id, f.url_idx
            ORDER BY r.plen DESC, (r.verb = 'allow') DESC,
                     r.pattern DESC
        ) AS rn
    FROM frontier f
    JOIN rx r ON f.h = r.h AND regexp_matches(f.path, r.rx)
)
SELECT f.doc_id, CAST(f.url_idx AS INTEGER) AS url_idx,
    'host' || CAST(f.h AS VARCHAR) || '.example.com' AS host,
    f.path,
    COALESCE(w.verb, 'allow') = 'allow' AS allowed,
    COALESCE(w.pattern, '') AS rule
FROM frontier f
LEFT JOIN (SELECT * FROM m WHERE rn = 1) w
    ON f.doc_id = w.doc_id AND f.url_idx = w.url_idx
""",
)
def x51(spark, sf_dir):
    """robots.txt crawl-frontier filtering (RFC 9309, llm/robots.py)
    — the politeness gate between link discovery (x50) and the fetch
    queue. Each of 23 hosts gets a REAL robots.txt body (comments,
    blank lines, case-varied directive spellings, CRLF on odd hosts,
    an ignored Crawl-delay, the empty-Disallow idiom, and a decoy
    ``otherbot`` group with ``Disallow: /``); the kernel parses it
    with full group-selection semantics — hosts with h%3==0 carry a
    specific ``trisk-crawler`` group that OVERRIDES the ``*`` group,
    the rest fall to ``*`` — and emits a per-host rule table with the
    RFC's octet-length specificity and the wildcard/anchor patterns
    compiled to anchored regexes. Frontier URLs (3-4 per doc) then
    pass llm/robots.py ``robots_verdict`` keyed by (doc_id, url_idx)
    — broadcast hash join on host, per-row ``regexp_like``, and a
    map-side-combinable max(struct) argmax for
    longest-match-allow-wins: no window sort, no Python in the match
    path. The oracle regenerates the RULES from the fixture
    arithmetic (not by parsing) and replays the matching with its own
    regex translation + row_number argmax, so a parser bug (group
    selection, decoy obeyed, case sensitivity, empty-path rule kept),
    a wrong specificity length, a broken wildcard/anchor translation,
    or a tie-break flip all change verdicts and flip the hash. Scale
    shape: rules are a ~KB-per-host dimension (broadcast); the
    frontier scan never shuffles until the (doc_id,url_idx)-keyed
    partial aggregate — at 100 TB of frontier this is one broadcast
    join + one combinable aggregate."""
    rules = _robots_fixture_rules(spark)
    d = _docs(spark, sf_dir).select("doc_id")
    paths = F.array(
        F.concat(F.lit("/p/"), (F.col("doc_id") % 5).cast("string"),
                 F.lit("/x")),
        F.concat(F.lit("/q/"), F.col("doc_id").cast("string")),
        F.concat(F.lit("/q/open"), F.col("doc_id").cast("string")),
        # arm 3 keys on (doc_id % 23) % 5 — doc_id % 23 IS the host,
        # so every arm-3 row lands on ITS host's '/p/{h%5}/ok$' Allow
        # rule and exercises the longest-match-allow-wins tie-break
        # (with doc_id % 5 the rule only matched when doc_id%5 ==
        # (doc_id%23)%5, i.e. for a sliver of rows)
        F.concat(F.lit("/p/"),
                 (F.col("doc_id") % 23 % 5).cast("string"),
                 F.lit("/ok")),
    )
    frontier = d.select(
        "doc_id",
        (F.col("doc_id") % 23).alias("h"),
        F.posexplode(
            F.when(F.col("doc_id") % 2 == 1, paths)
            .otherwise(F.slice(paths, 1, 3))
        ).alias("url_idx", "path"),
    )
    return robots_verdict(frontier, rules, ["doc_id", "url_idx"]).select(
        "doc_id",
        F.col("url_idx").cast("int").alias("url_idx"),
        F.concat(
            F.lit("host"), F.col("h").cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        "path",
        "allowed",
        "rule",
    )


_X47_META = '<meta charset="windows-1252">'
_X47_META_GBK = "<meta charset=gb2312>"


@q(
    "x47_charset_sniff",
    f"""
WITH d AS (
    SELECT doc_id, text,
        -- legacy-arm projection shared with the kernel: arms 1-9
        -- encode as cp1252/ascii/utf-16/CJK codecs, which raise on
        -- characters outside those sets, so non-ASCII text projects
        -- to '?' BEFORE encoding (and the byte arithmetic stays
        -- chars=bytes for the ASCII stem; the appended CJK tails
        -- are 2 bytes/char in every legacy multibyte arm)
        regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g') AS t
    FROM documents
)
SELECT doc_id,
    CASE doc_id % 11
        WHEN 0 THEN 'utf-8'
        WHEN 1 THEN 'windows-1252'
        WHEN 2 THEN 'windows-1252'
        WHEN 3 THEN 'utf-16be'
        WHEN 4 THEN 'windows-1252'
        WHEN 5 THEN 'shift_jis'
        WHEN 6 THEN 'gbk'
        WHEN 7 THEN 'euc-kr'
        WHEN 8 THEN 'big5'
        WHEN 9 THEN 'euc-jp'
        ELSE 'shift_jis' END AS charset,
    CAST(CASE doc_id % 11
        WHEN 0 THEN octet_length(encode(text)) + 6
        WHEN 1 THEN length(t) + 3
        WHEN 2 THEN {len(_X47_META)} + length(t) + 3
        WHEN 3 THEN 2 * (length(t) + 2) + 2
        WHEN 4 THEN length(t) + 2
        WHEN 5 THEN length(t) + 7
        WHEN 6 THEN {len(_X47_META_GBK)} + length(t) + 5
        WHEN 7 THEN length(t) + 5
        WHEN 8 THEN length(t) + 5
        WHEN 9 THEN length(t) + 5
        ELSE length(t) + 19 END AS BIGINT) AS n_bytes,
    CASE doc_id % 11
        WHEN 0 THEN text || ' é€'
        WHEN 1 THEN t || ' é€'
        WHEN 2 THEN '{_X47_META}' || t || ' Ã©'
        WHEN 3 THEN t || ' 世'
        WHEN 4 THEN t || ' é'
        WHEN 5 THEN t || ' 日本語'
        WHEN 6 THEN '{_X47_META_GBK}' || t || ' 中文'
        WHEN 7 THEN t || ' 한국'
        WHEN 8 THEN t || ' 中文'
        WHEN 9 THEN t || ' 日本'
        ELSE t || ' 日本語のページです' END AS clean
FROM d
""",
)
def x47(spark, sf_dir):
    """Charset sniffing + decoding for HTTP captures (llm/charset.py)
    — the step between the WARC reader's raw bytes and every text
    stage; real crawls are NOT all UTF-8. Eleven arms by doc_id%11,
    each wrapping the doc text in a REAL HTTP response and decoding
    back through the s11 body path + WHATWG precedence:

    0: utf-8 declared in Content-Type, served CHUNKED (ties in the
       dechunker), non-ASCII 'é€' payload;
    1: windows-1252 bytes declared as ISO-8859-1 (alias folding —
       WHATWG maps latin-1 to cp1252);
    2: NO header charset; a <meta charset="windows-1252"> prescan
       arm whose payload ends in the utf-8 bytes C3 A9 — VALID
       utf-8, so a sniffer that skips the meta step decodes 'é'
       instead of the declared cp1252's 'Ã©' and flips both the
       label and the text;
    3: utf-16be with BOM while the header LIES (charset=windows-1252)
       — BOM precedence, BOM stripped from the text;
    4: undeclared cp1252 with a lone 0xE9 — invalid utf-8, the
       content-sniff fallback arm;
    5: Shift_JIS declared as windows-31j (WHATWG folds the NEC/IBM
       spelling), ' 日本語' tail encoded cp932 (the windows-31j
       index) — invalid utf-8, so a sniffer ignoring the label
       would mislabel AND misdecode;
    6: NO header charset, <meta charset=gb2312> prescan — WHATWG
       folds gb2312 into gbk; ' 中文' tail via gb18030 (the spec's
       gbk decoder);
    7: EUC-KR declared as windows-949 (UHC folding), ' 한국' via
       cp949;
    8: Big5 declared in SINGLE-quoted charset param ('big5' — the
       RFC 9110-invalid-but-common spelling; exercises the quote
       handling), ' 中文' via big5hkscs (WHATWG's big5 index);
    9: EUC-JP declared plainly, ' 日本' via euc_jp;
    10: UNDECLARED Shift_JIS — no header charset, no meta, invalid
       utf-8: the structural content sniff (charset.py
       _cjk_content_sniff ladder: strict validity, kana dominance,
       frequency priors) must recover shift_jis where the pre-r11
       fallback silently mangled as cp1252 (r10 verdict Missing #2).

    Every legacy-multibyte tail is 2 bytes/char under its codec, so
    the oracle's byte arithmetic stays chars=bytes for the ASCII stem
    plus a constant. The kernel RAISES unless the decoded text equals
    the constructed original; the oracle replays label, byte count,
    and decoded text per arm. Cost tier: bytes-level Arrow-batched
    mapInPandas like the media codecs; detection is O(1024) per
    record."""
    import pandas as pd

    import re as _re

    from trisk_datawrangle_spark.llm.charset import http_decode_text
    from trisk_datawrangle_spark.llm.extract import http_chunk_encode

    meta = _X47_META
    meta_gbk = _X47_META_GBK

    def build_and_decode(batches):
        for pdf in batches:
            ids, labels, nbytes, cleans = [], [], [], []
            for doc_id, text in zip(
                pdf["doc_id"].astype("int64"), pdf["text"]
            ):
                doc_id = int(doc_id)
                m = doc_id % 11
                # legacy arms encode as cp1252/ascii/utf-16/CJK
                # codecs, which RAISE on characters outside those
                # sets — project to ASCII first (shared with the
                # oracle's regexp_replace), keeping chars == bytes
                t = _re.sub(r"[^\x00-\x7f]", "?", text)
                if m == 0:
                    body = (text + " é€").encode("utf-8")
                    ctype = "text/html; charset=utf-8"
                    expect = text + " é€"
                elif m == 1:
                    body = (t + " é€").encode("cp1252")
                    ctype = "text/html; charset=ISO-8859-1"
                    expect = t + " é€"
                elif m == 2:
                    body = (meta + t + " ").encode(
                        "ascii"
                    ) + b"\xc3\xa9"
                    ctype = "text/html"
                    expect = meta + t + " Ã©"
                elif m == 3:
                    body = b"\xfe\xff" + (t + " 世").encode(
                        "utf-16be"
                    )
                    ctype = "text/html; charset=windows-1252"
                    expect = t + " 世"
                elif m == 4:
                    body = (t + " é").encode("cp1252")
                    ctype = "text/html"
                    expect = t + " é"
                elif m == 5:
                    body = (t + " 日本語").encode("cp932")
                    ctype = "text/html; charset=windows-31j"
                    expect = t + " 日本語"
                elif m == 6:
                    body = (meta_gbk + t + " 中文").encode(
                        "gb18030"
                    )
                    ctype = "text/html"
                    expect = meta_gbk + t + " 中文"
                elif m == 7:
                    body = (t + " 한국").encode("cp949")
                    ctype = "text/html; charset=windows-949"
                    expect = t + " 한국"
                elif m == 8:
                    body = (t + " 中文").encode("big5hkscs")
                    ctype = "text/html; charset='big5'"
                    expect = t + " 中文"
                elif m == 9:
                    body = (t + " 日本").encode("euc_jp")
                    ctype = "text/html; charset=EUC-JP"
                    expect = t + " 日本"
                else:
                    # arm 10: UNDECLARED Shift_JIS — no header
                    # charset, no meta, invalid utf-8: the content
                    # sniff must recover shift_jis structurally
                    # (kana-dominant tail) instead of the old
                    # silent-cp1252 mangle (r10 verdict Missing #2)
                    body = (t + " 日本語のページです").encode("cp932")
                    ctype = "text/html"
                    expect = t + " 日本語のページです"
                if m == 0:
                    rec = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: "
                        + ctype.encode()
                        + b"\r\nTransfer-Encoding: chunked\r\n\r\n"
                        + http_chunk_encode(body, 37)
                    )
                else:
                    rec = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: "
                        + ctype.encode()
                        + b"\r\nContent-Length: "
                        + str(len(body)).encode()
                        + b"\r\n\r\n"
                        + body
                    )
                got = http_decode_text(rec)
                if got is None or got[1] != expect:
                    raise AssertionError(
                        f"x47: decode mismatch for doc {doc_id} "
                        f"(arm {m})"
                    )
                ids.append(doc_id)
                labels.append(got[0])
                nbytes.append(len(body))
                cleans.append(got[1])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "charset": labels,
                    "n_bytes": nbytes,
                    "clean": cleans,
                }
            )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return d.mapInPandas(
        build_and_decode,
        "doc_id long, charset string, n_bytes long, clean string",
    )


from trisk_datawrangle_spark.llm.urls import (
    canonicalize_url_sql,
    pct_normalize_sql,
    resolve_url_sql,
    ws_strip_sql,
)


@q(
    "x52_url_canonicalize",
    f"""
WITH raw AS (
    SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        || '://'
        || (CASE WHEN doc_id % 7 = 0
            THEN 'UsEr' || CAST(doc_id AS VARCHAR) || '@'
            ELSE '' END)
        || (CASE WHEN doc_id % 11 = 0 THEN 'xn--bcher-kva.Host'
                 WHEN doc_id % 11 = 6 THEN 'XN--BCHER-KVA.Host'
                 ELSE 'Host' END)
        || CAST(doc_id % 23 AS VARCHAR) || '.Example.COM'
        || (CASE doc_id % 3
            WHEN 0 THEN (CASE WHEN doc_id % 2 = 0
                         THEN ':80' ELSE ':443' END)
            WHEN 1 THEN ':8080'
            ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN ''
            ELSE '/A/./b' || CAST(doc_id % 7 AS VARCHAR)
                 || '/../c%41/p%2e%7E' || CAST(doc_id AS VARCHAR)
            END)
        || (CASE WHEN doc_id % 2 = 0
            THEN '?x=%41&y=%3a&r=/a/../b' ELSE '' END)
        || '#s' || CAST(doc_id AS VARCHAR) AS url
    FROM documents
),
n AS (
    -- the percent fold staged once per row (the Spark side stages
    -- identically — with_canonical_url's __nurl column)
    SELECT doc_id, url,
        {pct_normalize_sql(ws_strip_sql("url"))} AS nurl
    FROM raw
)
SELECT doc_id, url,
    {canonicalize_url_sql("nurl", prenormalized=True)} AS canon
FROM n
""",
)
def x52(spark, sf_dir):
    """URL canonicalization (RFC 3986 §6.2.2, llm/urls.py) — the
    crawl frontier's dedup key: scheme/host case-folding,
    default-port drop (per scheme) with non-default ports kept,
    fragment strip, percent-encoding normalization (unreserved
    escapes decode, every other escape's hex uppercases, malformed
    tails pass through) via the split-on-% fold — NOT a 102-pass
    replace table, which measurably blows whole-stage codegen's
    64 KB method limit into interpreted fallback — and bounded
    dot-segment resolution from the DOT_SEGMENT_STEPS chain shared
    VERBATIM with the oracle builder. Each doc gets a messy spelling
    (case noise, a default/kept/absent port rotation, /./ and /../
    segments, three escape spellings, a fragment; every 7th URL
    carries case-sensitive userinfo that must pass through VERBATIM,
    every 5th has no path — empty path + query normalizes to '/' —
    and the query embeds a literal '/a/../b' that dot-segment removal
    must NOT rewrite, the over-merge bug class; every 11th host
    carries a UNICODE IDN label that the Arrow-batched idna kernel
    (llm/urls.py with_idn_ascii_url) folds to its xn-- form UPSTREAM
    of the JVM chain, and every (11k+6)th spells the same label as
    case-noisy literal punycode — post-fold the two spellings share
    one canonical host key, the merge the unicode long tail needs);
    the oracle rebuilds the POST-FOLD URL arithmetically (literal
    xn-- label) and canonicalizes with canonicalize_url_sql — same
    shared steps, same piece arithmetic — so a wrong port rule,
    decode, case fold, dot-segment pass, or idna fold flips the
    hash. Scale shape (r12, verdict Wrong #2 fixed): the idna fold
    runs on DISTINCT non-ASCII authorities only, broadcast-joined
    back — the per-row path is 100% JVM (regex split + broadcast
    hash join + concat), no Python touches the corpus rows and no
    shuffle of the big side; the JVM chain's non-ASCII refusal arm
    still backstops hosts the fold refuses."""
    from trisk_datawrangle_spark.llm.urls import with_canonical_url

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit("UsEr"), did.cast("string"), F.lit("@")),
        ).otherwise(F.lit("")),
        # every 11th host carries a UNICODE IDN label; the idna
        # kernel upstream folds it onto its xn-- form, and every
        # (11k+6)th host spells the SAME label as case-noisy literal
        # punycode — after the fold + case fold the two spellings
        # share one canonical host key (the merge the r10 verdict
        # asked for; exact-merge asserted in tests/test_urls.py)
        F.when(did % 11 == 0, F.lit("BüCHER.Host"))
        .when(did % 11 == 6, F.lit("XN--BCHER-KVA.Host"))
        .otherwise(F.lit("Host")),
        (did % 23).cast("string"),
        F.lit(".Example.COM"),
        F.when(
            did % 3 == 0,
            F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        ).when(did % 3 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("/A/./b"), (did % 7).cast("string"),
                F.lit("/../c%41/p%2e%7E"), did.cast("string"),
            )
        ),
        F.when(did % 2 == 0, F.lit("?x=%41&y=%3a&r=/a/../b"))
        .otherwise(F.lit("")),
        F.lit("#s"), did.cast("string"),
    )
    # the idna fold runs UPSTREAM on distinct non-ASCII
    # authorities (broadcast-joined back; the 10/11 ASCII rows and
    # every per-row byte stay JVM-side); the output `url` column is
    # the POST-fold spelling — the frontier's stored form — which
    # the oracle rebuilds arithmetically with the literal xn--
    # label.
    # Downstream: the staged JVM chain, unchanged (the percent fold
    # disqualifies whole-stage codegen, and interpreted mode
    # re-evaluates every duplicated subtree per reference —
    # with_canonical_url materializes each piece exactly once)
    from trisk_datawrangle_spark.llm.urls import with_idn_ascii_url

    # gated fan-out (guide §2.5): the interpreted canonicalize chain
    # (percent fold disables codegen) otherwise runs on the one-task
    # scan (measured 0.87 s warm → 0.76 s at sf0.1/32 cores)
    d = fan_out_scan(d, "doc_id")
    raw = d.select("doc_id", url.alias("__raw"))
    folded = with_idn_ascii_url(raw, "__raw", "url").drop("__raw")
    return with_canonical_url(folded, "url", "canon")


@q(
    "x53_link_resolve",
    f"""
WITH pages AS (
    SELECT doc_id,
        -- every 4th page's <base href> overrides the page URL as
        -- the resolution base (first base element wins; the
        -- basefont decoy and the second base never apply)
        CASE WHEN doc_id % 4 = 0
             THEN 'https://Base' || CAST(doc_id % 5 AS VARCHAR)
                  || '.Example.com/bd/sub/page.html'
             ELSE 'https://Host' || CAST(doc_id % 23 AS VARCHAR)
                  || '.Example.com/dir' || CAST(doc_id % 7 AS VARCHAR)
                  || '/sub/page' || CAST(doc_id AS VARCHAR)
                  || '.html?o=1#t'
        END AS base
    FROM documents
),
links AS (
    SELECT doc_id, base, j.j AS ref_idx,
        CASE j.j
            WHEN 0 THEN 'HTTP://Other' || CAST(doc_id % 5 AS VARCHAR)
                        || '.example.com:80/abs%2e/x'
            WHEN 1 THEN '//cdn' || CAST(doc_id % 3 AS VARCHAR)
                        || '.Example.com/lib.js'
            WHEN 2 THEN '/img/' || CAST(doc_id AS VARCHAR)
                        || '.png?v=%41'
            WHEN 3 THEN '../up' || CAST(doc_id % 7 AS VARCHAR) || '/x'
            WHEN 4 THEN '?page=' || CAST(doc_id AS VARCHAR)
            ELSE 'mailto:contact@example.com'
        END AS ref
    FROM pages, unnest(generate_series(0, 5)) AS j(j)
),
res AS (
    SELECT doc_id, ref_idx, ref,
        {resolve_url_sql('base', 'ref')} AS raw
    FROM links
),
n AS (
    SELECT doc_id, ref_idx, ref,
        {pct_normalize_sql(ws_strip_sql('raw'))} AS nurl
    FROM res
)
SELECT doc_id, CAST(ref_idx AS INTEGER) AS ref_idx, ref,
    {canonicalize_url_sql('nurl', prenormalized=True)} AS resolved
FROM n
""",
)
def x53(spark, sf_dir):
    """Relative-reference resolution (RFC 3986 §5.3, llm/urls.py
    resolve_url_expr) composed with canonicalization — the other
    half of the frontier's URL handling: pages link with RELATIVE
    references (root-relative, protocol-relative, path-relative
    with ../, query-only) far more often than absolute URLs, and a
    link graph reading only absolute hrefs (x50) drops most real
    edges. Six arms per page: an absolute URL with case/port/escape
    noise (passes through resolution, canonicalization cleans it), a
    network-path //cdn ref (inherits the base scheme), a
    root-relative image with an escaped query, a ../ path-relative
    ref (the §5.3.3 merge, dot segment resolved by the §6.2.2.3
    chain), a query-only ref (replaces the base query, keeps its
    path), and a mailto: link — ANY 'scheme:' prefix is absolute, so
    it must NOT merge into the base path; canonicalization returns
    '' for it, which is how the frontier drops non-http(s) edges.
    PLUS the <base href> override (r11): every 4th page's head
    declares a base element — attribute order/case/quote noise, a
    <basefont> decoy that must not match, a SECOND base that must be
    ignored (first wins per the HTML spec) — parsed by the real
    extractor (llm/extract.py base_href_expr) and coalesced over the
    page URL as the resolution base; a resolver ignoring <base>
    rewrites every relative link on those pages to the wrong
    host/directory, flipping the hash.
    The oracle rebuilds base (with the override CASE) and refs
    arithmetically and replays
    resolution + canonicalization with the shared-regex SQL
    builders, so a wrong merge rule, scheme detection, origin slice,
    or any canonicalization step flips the hash. Scale shape: pure
    JVM expressions fused into the scan — zero Python, zero shuffle,
    like x52/x46."""
    from trisk_datawrangle_spark.llm.urls import (
        with_canonical_url,
        with_resolved_url,
    )

    from trisk_datawrangle_spark.llm.extract import base_href_expr

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    page_url = F.concat(
        F.lit("https://Host"), (did % 23).cast("string"),
        F.lit(".Example.com/dir"), (did % 7).cast("string"),
        F.lit("/sub/page"), did.cast("string"), F.lit(".html?o=1#t"),
    )
    # the <base href> override (every 4th page): attribute-order
    # and quote noise, a <basefont> decoy that must NOT match, and
    # a SECOND base element that must be IGNORED (first wins per
    # the HTML spec) — parsed by the real extractor, and resolution
    # runs against the effective base, not the page URL
    head = F.concat(
        F.lit('<head><basefont href="https://decoy.example.com/">'),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("<BASE TARGET='_t' HREF='https://Base"),
                (did % 5).cast("string"),
                F.lit(".Example.com/bd/sub/page.html'>"),
                F.lit('<base href="https://ignored.example.com/">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head>"),
    )
    refs = F.array(
        F.concat(F.lit("HTTP://Other"), (did % 5).cast("string"),
                 F.lit(".example.com:80/abs%2e/x")),
        F.concat(F.lit("//cdn"), (did % 3).cast("string"),
                 F.lit(".Example.com/lib.js")),
        F.concat(F.lit("/img/"), did.cast("string"),
                 F.lit(".png?v=%41")),
        F.concat(F.lit("../up"), (did % 7).cast("string"),
                 F.lit("/x")),
        F.concat(F.lit("?page="), did.cast("string")),
        F.lit("mailto:contact@example.com"),
    )
    links = d.select(
        "doc_id",
        F.coalesce(base_href_expr(head), page_url).alias("base"),
        F.posexplode(refs).alias("ref_idx", "ref"),
    )
    # staged variants throughout: the percent fold disqualifies
    # whole-stage codegen for this stage, and interpreted mode
    # re-evaluates every duplicated subtree per reference — nesting
    # canonicalize(resolve(...)) as one Column tree measured 35 s at
    # sf1 where the staged shape runs in ~2 s (llm/urls.py has the
    # full analysis)
    raw = with_resolved_url(links, "base", "ref", "raw").select(
        "doc_id",
        F.col("ref_idx").cast("int").alias("ref_idx"),
        "ref",
        "raw",
    )
    return with_canonical_url(raw, "raw", "resolved").select(
        "doc_id", "ref_idx", "ref", "resolved"
    )


#: x54's oracle SQL — shared with x59, which schedules recrawls
#: over the SAME sitemap entries (the _W5_SQL idiom: one source of
#: truth for the fixture arithmetic).
_X54_SQL = """
WITH e AS (
    SELECT d.doc_id, j.j AS url_idx,
        'http://host' || CAST(d.doc_id % 23 AS VARCHAR)
        || '.example.com/s/p' || CAST(j.j AS VARCHAR)
        || '?a=1&b=' || CAST(j.j AS VARCHAR)
        || '&t=<"x">''' AS loc,
        CASE WHEN (d.doc_id + j.j) % 3 = 0 THEN ''
             ELSE '2025-'
                || lpad(CAST((d.doc_id + j.j) % 12 + 1 AS VARCHAR),
                        2, '0')
                || '-'
                || lpad(CAST((d.doc_id * 3 + j.j) % 28 + 1
                        AS VARCHAR), 2, '0')
        END AS lastmod
    FROM documents d,
        unnest(generate_series(0, 1 + d.doc_id % 4)) AS j(j)
)
SELECT doc_id, CAST(url_idx AS INTEGER) AS url_idx, loc, lastmod
FROM e
"""


def _sitemap_urlset_xml(d):
    """The shared per-doc urlset XML fixture column (x54's builder,
    factored r12 so x63's gzip arm serializes the SAME bytes — one
    source of truth, the w5/x57 idiom): 2-5 ``<url>`` blocks with
    entity-escaped ``<loc>`` values (every XML_ENTITY_STEPS row
    appears in-file), case/port noise, a ``<changefreq>`` decoy,
    and ``<lastmod>`` on two-thirds of blocks."""
    did = F.col("doc_id")

    def blk(j):
        return F.concat(
            F.lit("<url><loc>HTTP://Host"),
            (did % 23).cast("string"),
            F.lit(".Example.com:80/s/p"),
            j.cast("string"),
            F.lit("?a=1&amp;b="),
            j.cast("string"),
            # every XML_ENTITY_STEPS row appears in-file so each
            # decode is non-vacuous: &amp; &lt; &quot; &gt; &apos;
            F.lit("&amp;t=&lt;&quot;x&quot;&gt;&apos;"),
            F.lit("</loc>"),
            F.when((did + j) % 3 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("<lastmod>2025-"),
                    F.lpad(((did + j) % 12 + 1).cast("string"),
                           2, "0"),
                    F.lit("-"),
                    F.lpad(((did * 3 + j) % 28 + 1).cast("string"),
                           2, "0"),
                    F.lit("</lastmod>"),
                )
            ),
            F.lit("<changefreq>daily</changefreq></url>"),
        )

    # urlset built in-row (the x50 fold idiom) — no shuffle anywhere
    return d.select(
        "doc_id",
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.aggregate(
                F.sequence(F.lit(0), (did % 4) + 1),
                F.lit(""),
                lambda acc, j: F.concat(acc, blk(j)),
            ),
            F.lit("</urlset>"),
        ).alias("xml"),
    )


def _sitemap_urlset_parse(spark, sitemaps):
    """The shared urlset parse chain (x54's, factored r12): pure JVM
    ``regexp_extract_all`` over ``(?s)<url>(.*?)</url>`` blocks →
    posexplode → per-block loc/lastmod extracts → xml_unescape_expr
    → with_canonical_url for the frontier key."""
    from trisk_datawrangle_spark.llm.extract import xml_unescape_expr
    from trisk_datawrangle_spark.llm.urls import with_canonical_url

    parts = F.expr(
        "regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)"
    )
    entries = sitemaps.select(
        "doc_id", F.posexplode(parts).alias("url_idx", "blk")
    )
    loc = xml_unescape_expr(
        F.regexp_extract(F.col("blk"), "<loc>([^<]*)</loc>", 1)
    )
    entries = entries.select(
        "doc_id",
        F.col("url_idx").cast("int").alias("url_idx"),
        loc.alias("rawloc"),
        F.regexp_extract(
            F.col("blk"), "<lastmod>([^<]*)</lastmod>", 1
        ).alias("lastmod"),
    )
    return with_canonical_url(entries, "rawloc", "loc").select(
        "doc_id", "url_idx", "loc", "lastmod"
    )


@q("x54_sitemap_ingest", _X54_SQL)
def x54(spark, sf_dir):
    """Sitemap ingestion (sitemaps.org protocol) — the third crawl-
    discovery channel beside page links (x50/x53) and robots.txt
    (x51; its ``Sitemap:`` directive points here). Each doc carries a
    built urlset XML: 2-5 ``<url>`` blocks with entity-escaped
    ``<loc>`` values (the spec REQUIRES escaping — every row of
    XML_ENTITY_STEPS appears in-file: ``&amp; &lt; &gt; &quot;
    &apos;``), case/port noise in the raw URLs, a ``<changefreq>``
    the parser must skip, and ``<lastmod>`` present
    on only two-thirds of blocks (absent → ''). The chain is pure
    JVM: ``regexp_extract_all`` over ``(?s)<url>(.*?)</url>`` blocks
    → posexplode → per-block loc/lastmod extracts →
    xml_unescape_expr (llm/extract.py — the shared entity table,
    ``&amp;`` LAST as the double-decode guard, contains('&')
    guarded) → with_canonical_url for the frontier key. The oracle
    builds the EXPECTED canonical rows from the fixture arithmetic
    directly, so a mis-paired block, any skipped entity row, broken
    canonicalization, or phantom lastmod flips the hash. Scale shape: scan-fused JVM
    regex + one explode, zero Python, zero shuffle — x50's shape
    with XML blocks instead of anchors."""
    d = _docs(spark, sf_dir).select("doc_id")
    return _sitemap_urlset_parse(spark, _sitemap_urlset_xml(d))


@q(
    "x56_sitemap_index_walk",
    """
WITH kids AS (
    SELECT d.doc_id, j.j
    FROM documents d,
        unnest(generate_series(0, d.doc_id % 3)) AS j(j)
),
pages AS (
    SELECT k.doc_id, k.j, u.u
    FROM kids k,
        unnest(generate_series(0, (k.doc_id + k.j) % 2)) AS u(u)
)
SELECT doc_id,
    CAST(j AS INTEGER) AS child_idx,
    CAST(u AS INTEGER) AS url_idx,
    'http://host' || CAST(doc_id % 23 AS VARCHAR)
        || '.example.com/sm/' || CAST(doc_id AS VARCHAR)
        || '/' || CAST(j AS VARCHAR) || '.xml' AS child_loc,
    'http://host' || CAST(doc_id % 23 AS VARCHAR)
        || '.example.com/s/pA' || CAST(j AS VARCHAR)
        || '-' || CAST(u AS VARCHAR)
        || '?a=1&b=' || CAST(u AS VARCHAR) AS page_loc
FROM pages
""",
)
def x56(spark, sf_dir):
    """Sitemap INDEX walking (sitemaps.org ``<sitemapindex>``) — the
    protocol's second file form and how large sites actually expose
    their URL space (a urlset caps at 50k URLs / 50 MB, so real
    hosts publish an index of child sitemaps): parse the index →
    canonicalize the child locs → FETCH the children → parse each
    child urlset → page URLs. Per doc the index carries 1-3
    ``<sitemap>`` blocks (case/default-port noise on the locs, a
    ``<lastmod>`` the parser must skip on even arms); child urlsets
    are keyed by (doc, child) and their page locs carry an
    entity-escaped ``&amp;`` AND a ``%41`` escape, so both decode
    layers (XML entity, percent) are non-vacuous per row. The fetch
    step is modeled the way a batch crawler actually does it: the
    canonical child loc's key fields are extracted BACK out of the
    canonical URL by regexp (proving the loc survived the
    canonicalization roundtrip) and equi-joined to the fetched-body
    table — at 100 TB this is the one URL-keyed exchange a
    discovery→fetch handoff costs, with both parse stages scan-fused
    JVM regex on either side of it. The oracle replays the
    (doc, child, url) fan-out and both canonical forms
    arithmetically, so a mis-paired block, skipped child, broken
    key-roundtrip, join-key drift, or missed decode flips the
    hash."""
    from trisk_datawrangle_spark.llm.extract import xml_unescape_expr
    from trisk_datawrangle_spark.llm.urls import with_canonical_url

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")

    def sm_blk(j):
        return F.concat(
            F.lit("<sitemap><loc>HTTP://Host"),
            (did % 23).cast("string"),
            F.lit(".Example.com:80/sm/"), did.cast("string"),
            F.lit("/"), j.cast("string"), F.lit(".xml</loc>"),
            F.when(
                (did + j) % 2 == 0,
                F.lit("<lastmod>2025-01-01</lastmod>"),
            ).otherwise(F.lit("")),
            F.lit("</sitemap>"),
        )

    index = d.select(
        "doc_id",
        F.concat(
            F.lit('<?xml version="1.0"?><sitemapindex>'),
            F.aggregate(
                F.sequence(F.lit(0), did % 3),
                F.lit(""),
                lambda acc, j: F.concat(acc, sm_blk(j)),
            ),
            F.lit("</sitemapindex>"),
        ).alias("xml"),
    )

    # the fetched-body table: child urlsets keyed by (doc_id, j)
    jcol = F.col("j")

    def url_blk(u):
        return F.concat(
            F.lit("<url><loc>http://Host"),
            (did % 23).cast("string"),
            F.lit(".example.com/s/p%41"), jcol.cast("string"),
            F.lit("-"), u.cast("string"),
            F.lit("?a=1&amp;b="), u.cast("string"),
            F.lit("</loc></url>"),
        )

    children = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), did % 3)).alias("j")
    ).select(
        "doc_id",
        "j",
        F.concat(
            F.lit("<urlset>"),
            F.aggregate(
                F.sequence(F.lit(0), (did + jcol) % 2),
                F.lit(""),
                lambda acc, u: F.concat(acc, url_blk(u)),
            ),
            F.lit("</urlset>"),
        ).alias("child_xml"),
    )

    blocks = F.expr(
        "regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1)"
    )
    entries = index.select(
        "doc_id", F.posexplode(blocks).alias("child_idx", "blk")
    ).select(
        "doc_id",
        F.col("child_idx").cast("int").alias("child_idx"),
        xml_unescape_expr(
            F.regexp_extract(F.col("blk"), "<loc>([^<]*)</loc>", 1)
        ).alias("rawloc"),
    )
    entries = with_canonical_url(entries, "rawloc", "child_loc")
    # key-roundtrip: BOTH fetch-key fields extracted from the
    # CANONICAL loc — a canonicalization bug that corrupts either
    # path segment breaks the join and flips the hash (carrying the
    # input doc_id through would let a mangled doc segment pass
    # unnoticed)
    entries = entries.select(
        "child_idx",
        "child_loc",
        F.regexp_extract(
            F.col("child_loc"), "/sm/([0-9]+)/[0-9]+\\.xml$", 1
        ).cast("long").alias("doc_id"),
        F.regexp_extract(
            F.col("child_loc"), "/sm/[0-9]+/([0-9]+)\\.xml$", 1
        ).cast("long").alias("j"),
    )
    # stage boundary (r13): the equi-join's inferred isnotnull(doc_id)
    # null filters get predicate-pushed through the staged projections
    # above, substituting the whole canonicalization chain into the
    # filter (the w5 bug class — this entry's executed plan measured
    # 129 KB); the checkpoint leaves the predicate nothing to push
    # into. The entries frame is sitemap-index-sized (≤4 rows/doc).
    entries = entries.localCheckpoint(eager=True)
    fetched = entries.join(children, ["doc_id", "j"])
    ublocks = F.expr(
        "regexp_extract_all(child_xml, '(?s)<url>(.*?)</url>', 1)"
    )
    out = fetched.select(
        "doc_id",
        "child_idx",
        "child_loc",
        F.posexplode(ublocks).alias("url_idx", "ublk"),
    ).select(
        "doc_id",
        "child_idx",
        F.col("url_idx").cast("int").alias("url_idx"),
        "child_loc",
        xml_unescape_expr(
            F.regexp_extract(F.col("ublk"), "<loc>([^<]*)</loc>", 1)
        ).alias("p"),
    )
    out = with_canonical_url(out, "p", "page_loc")
    return out.select(
        "doc_id", "child_idx", "url_idx", "child_loc", "page_loc"
    )


@q(
    "x59_recrawl_priority",
    f"""
WITH sm AS ({_X54_SQL}),
k AS (
    SELECT doc_id, url_idx, loc, lastmod,
        doc_id % 23 AS hk, CAST(url_idx AS BIGINT) AS j
    FROM sm
),
hist AS (
    SELECT doc_id, url_idx, loc, lastmod, hk,
        -- odd hosts: the inline arithmetic history (arm A); even
        -- hosts: the persisted fetch-log channel (arm B) — absent
        -- keys ((hk+j)%6=0) were never fetched, (hk+j)%12=2 keys
        -- carry the MERGED refetch date (updates win)
        CASE WHEN hk % 2 = 1 THEN
            '2025-'
            || lpad(CAST((doc_id * 5 + url_idx) % 12 + 1 AS VARCHAR),
                    2, '0')
            || '-'
            || lpad(CAST((doc_id + url_idx * 7) % 28 + 1 AS VARCHAR),
                    2, '0')
        WHEN (hk + j) % 6 = 0 THEN NULL
        WHEN (hk + j) % 12 = 2 THEN
            '2025-12-'
            || lpad(CAST((hk + j) % 28 + 1 AS VARCHAR), 2, '0')
        ELSE
            '2025-'
            || lpad(CAST((hk * 5 + j) % 12 + 1 AS VARCHAR), 2, '0')
            || '-'
            || lpad(CAST((hk + j * 7) % 28 + 1 AS VARCHAR), 2, '0')
        END AS last_fetch
    FROM k
)
SELECT doc_id, url_idx, loc, lastmod, last_fetch,
    hk % 2 = 0 AS from_log,
    (last_fetch IS NULL OR lastmod = '' OR lastmod > last_fetch)
        AS needs_fetch,
    CAST(CASE
        WHEN last_fetch IS NULL THEN 60
        WHEN lastmod = '' THEN 30
        WHEN lastmod > last_fetch THEN
            (CAST(substr(lastmod, 6, 2) AS INTEGER)
             - CAST(substr(last_fetch, 6, 2) AS INTEGER)) * 30
            + CAST(substr(lastmod, 9, 2) AS INTEGER)
            - CAST(substr(last_fetch, 9, 2) AS INTEGER)
        ELSE 0 END AS INTEGER) AS staleness
FROM hist
""",
)
def x59(spark, sf_dir):
    """Recrawl PRIORITIZATION — the stage that closes the crawl
    loop: discovery (x50/x53/x54/x55) and politeness (x57/x58) feed
    the FIRST fetch; a production crawler spends most of its budget
    RE-fetching, ordered by evidence of change. The evidence is
    x54's sitemap ``<lastmod>`` (one function call over the same
    entries — the w5/x57 one-source-of-truth idiom) joined against a
    per-URL fetch history carried through BOTH production channels
    (r11 verdict Missing #3): odd-numbered hosts take arm A, the
    inline arithmetic history (the r11 shape — zero joins); EVEN
    hosts take arm B, a PERSISTED fetch log — a partitioned parquet
    table written with sources/incremental.py write_partitioned,
    UPSERTED with merge_by_key (the u4 machinery: a refetch batch
    whose newer dates must WIN over the base rows — (hk+j)%12=2
    keys), read back whole, and equi-joined on the canonical URL
    key. Log keys are canonical-URL-derived (hk = host number,
    j = slot — x54's loc is a function of exactly these), so the
    join is a real canonical-key lookup, not row identity. URLs
    ABSENT from the log ((hk+j)%6=0 — never fetched) surface as
    NULL last_fetch and take the strong never-fetched prior (60),
    ranking above absent-lastmod (30) and date-diff backlog;
    ``needs_fetch`` fires when the log has no row, the sitemap
    claims a change after the last fetch, or lastmod is absent (the
    silent-staleness bug class). The flag and the score are
    llm/politeness.py ``recrawl_staleness``, whose CASE arms guard
    the substring→int casts so empty/NULL never reaches ANSI cast
    (the oracle guards them the same way).
    The oracle wraps the full shared x54 SQL and replays BOTH
    channels arithmetically — a lost merge (stale date surviving
    the upsert), a dropped log row, a join fanout, or a prior that
    never fires flips the hash. Scale shape: x54's scan-fused JVM
    chain + ONE broadcast equi-join against the fetch log (the log
    is keyed and partitioned; at crawl scale it is the u4
    incremental table — only affected partitions rewrite per batch)
    + per-row arithmetic; zero Python."""
    import shutil
    import tempfile

    from trisk_datawrangle_spark.sources.incremental import (
        merge_by_key,
        write_partitioned,
    )

    # stage boundary (r13): the entry consumes x54's sitemap chain
    # THREE times (the log base, the refetch batch, and the final
    # join's probe side) plus two eager log writes — uncheckpointed,
    # each consumer re-plans and re-executes the whole scan-fused
    # extraction chain. The checkpoint truncates all of them to the
    # tiny materialized entries RDD.
    sm = x54(spark, sf_dir).localCheckpoint(eager=True)
    did, uix = F.col("doc_id"), F.col("url_idx")
    hk = did % 23
    j = uix.cast("long")
    # ---- arm B: the persisted fetch log (even hosts) ----
    # base: every fetched URL's last fetch date, derived from the
    # canonical key's own (hk, j) so the log is loc-keyed
    base_date = F.concat(
        F.lit("2025-"),
        F.lpad(((hk * 5 + j) % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((hk + j * 7) % 28 + 1).cast("string"), 2, "0"),
    )
    log_base = (
        sm.where((hk % 2 == 0) & ((hk + j) % 6 != 0))
        .select(
            "loc",
            (hk % 4).alias("pb"),
            base_date.alias("last_fetch"),
        )
        .distinct()
    )
    # refetch batch: newer dates that must WIN over the base rows
    upd = (
        sm.where((hk % 2 == 0) & ((hk + j) % 12 == 2))
        .select(
            "loc",
            (hk % 4).alias("pb"),
            F.concat(
                F.lit("2025-12-"),
                F.lpad(((hk + j) % 28 + 1).cast("string"), 2, "0"),
            ).alias("last_fetch"),
        )
        .distinct()
    )
    path = tempfile.mkdtemp(prefix="x59_fetchlog_") + "/log"
    try:
        write_partitioned(log_base, path, ["pb"])
        merge_by_key(spark, upd, path, ["loc"], ["pb"])
        log = spark.read.parquet(path).select(
            "loc", F.col("last_fetch").alias("__lf_log")
        )
        # ---- arm A: the inline arithmetic history (odd hosts) ----
        arith_date = F.concat(
            F.lit("2025-"),
            F.lpad(((did * 5 + uix) % 12 + 1).cast("string"), 2,
                   "0"),
            F.lit("-"),
            F.lpad(((did + uix * 7) % 28 + 1).cast("string"), 2,
                   "0"),
        )
        joined = sm.join(F.broadcast(log), ["loc"], "left")
        lf = F.when(hk % 2 == 1, arith_date).otherwise(
            F.col("__lf_log")
        )
        needs_fetch, staleness = recrawl_staleness("lastmod", lf)
        out = joined.select(
            "doc_id",
            "url_idx",
            "loc",
            "lastmod",
            lf.alias("last_fetch"),
            (hk % 2 == 0).alias("from_log"),
            needs_fetch.alias("needs_fetch"),
            staleness.alias("staleness"),
        )
        out = out.localCheckpoint()  # materialize before cleanup
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
    return out


@q(
    "x60_redirect_chains",
    """
WITH edges AS (
    SELECT doc_id,
        'https://host' || CAST(doc_id % 23 AS VARCHAR)
        || '.example.com/r/sub/page' || CAST(doc_id AS VARCHAR)
        || '.html' AS src,
        CASE CAST(doc_id % 5 AS INTEGER)
            WHEN 0 THEN 301 WHEN 1 THEN 302 WHEN 2 THEN 200
            WHEN 3 THEN 301 ELSE 302 END AS status,
        CASE CAST(doc_id % 5 AS INTEGER)
            WHEN 0 THEN 'https://host' || CAST(doc_id % 23 AS VARCHAR)
                || '.example.com/r/t/final' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'http://host' || CAST(doc_id % 23 AS VARCHAR)
                || '.example.com:443/f/final' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN NULL
            WHEN 3 THEN 'https://host'
                || CAST((doc_id + 2) % 23 AS VARCHAR)
                || '.example.com/r/sub/page'
                || CAST(doc_id + 2 AS VARCHAR) || '.html'
            ELSE 'https://host' || CAST(doc_id % 23 AS VARCHAR)
                || '.example.com/r/sub/page' || CAST(doc_id AS VARCHAR)
                || '.html'
        END AS dst
    FROM documents
),
n AS (SELECT src AS cur, dst AS nxt FROM edges WHERE dst IS NOT NULL),
h1 AS (
    SELECT doc_id, src AS u, status,
        COALESCE(dst, src) AS cur,
        CASE WHEN dst IS NULL THEN 0 ELSE 1 END AS hops
    FROM edges
),
h2 AS (
    SELECT doc_id, u, status, COALESCE(n.nxt, h1.cur) AS cur,
        hops + CASE WHEN n.nxt IS NOT NULL THEN 1 ELSE 0 END AS hops
    FROM h1 LEFT JOIN n ON h1.cur = n.cur
),
h3 AS (
    SELECT doc_id, u, status, COALESCE(n.nxt, h2.cur) AS cur,
        hops + CASE WHEN n.nxt IS NOT NULL THEN 1 ELSE 0 END AS hops
    FROM h2 LEFT JOIN n ON h2.cur = n.cur
)
SELECT doc_id, u AS url, CAST(status AS INTEGER) AS status,
    CASE WHEN n.nxt IS NOT NULL THEN '' ELSE h3.cur END AS final,
    CAST(CASE WHEN n.nxt IS NOT NULL THEN 3 ELSE h3.hops END
         AS INTEGER) AS hops,
    n.nxt IS NOT NULL AS unresolved
FROM h3 LEFT JOIN n ON h3.cur = n.cur
""",
)
def x60(spark, sf_dir):
    """HTTP REDIRECT chains (RFC 9110 §15.4 + llm/extract.py
    http_status_location) — a large share of real fetches answer
    3xx, and the ``Location`` target (RELATIVE more often than
    crawl-naive code expects — legal since RFC 7231) must resolve
    against the request URL, canonicalize, and re-enter the
    frontier; following chains wrongly either loses the page or
    loops forever. Five arms by doc_id%5: (0) 301 with a RELATIVE
    ``../t/...`` Location (the §5.3 merge against the request URL),
    (1) 302 with an absolute case/port-noisy target carrying a
    fragment (``:443`` on http is NON-default and must survive
    canonicalization), (2) a terminal 200, (3) 301 onto ANOTHER
    fixture page two docs over — whose own arm-0 redirect makes a
    real 2-hop chain (corpus-edge docs whose target does not exist
    resolve in 1 hop to the unfetched URL: a frontier discovery,
    not an error), and (4) a SELF-LOOP that must exhaust the hop
    budget and surface as unresolved (final='', the loud drop) —
    the bug class that hangs naive followers. The kernel builds a
    REAL HTTP response per doc (status line, header-name case and
    padding noise, Content-Length: 0) and parses it back with
    http_status_location (value bytes case-preserved — lowercasing
    the Location corrupts case-significant paths), asserting the
    roundtrip; Location then resolves/canonicalizes through the
    shared JVM chains and the chain follows via BOUNDED iterative
    equi-joins on the canonical key (3 hops + one existence probe
    for the loop verdict — the production shape: each hop is one
    frontier-sized hash join, never a driver-side loop). The oracle
    rebuilds the edge table arithmetically and replays the SAME
    three LEFT JOINs + probe, so a wrong resolution, a dropped
    relative target, a broken loop verdict, or an off-by-one hop
    count flips the hash."""
    from trisk_datawrangle_spark.llm.extract import (
        http_status_location,
    )
    from trisk_datawrangle_spark.llm.urls import (
        with_canonical_url,
        with_resolved_url,
    )

    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://Host"), (did % 23).cast("string"),
        F.lit(".Example.com/r/sub/page"), did.cast("string"),
        F.lit(".html"),
    )
    arm = (did % 5).cast("int")
    loc = (
        F.when(arm == 0, F.concat(F.lit("../t/final"),
                                  did.cast("string")))
        .when(arm == 1, F.concat(
            F.lit("HTTP://Host"), (did % 23).cast("string"),
            F.lit(".Example.com:443/f/final"), did.cast("string"),
            F.lit("#frag"),
        ))
        .when(arm == 3, F.concat(
            F.lit("https://Host"), ((did + 2) % 23).cast("string"),
            F.lit(".Example.com:443/r/sub/page"),
            (did + 2).cast("string"), F.lit(".html"),
        ))
        .when(arm == 4, F.concat(
            F.lit("HTTPS://Host"), (did % 23).cast("string"),
            F.lit(".Example.com:443/r/sub/page"), did.cast("string"),
            F.lit(".html"),
        ))
    )  # arm 2: NULL — terminal 200
    status = (
        F.when(arm.isin(0, 3), F.lit(301))
        .when(arm.isin(1, 4), F.lit(302))
        .otherwise(F.lit(200))
    )
    raw = d.select(
        "doc_id", url.alias("url"), status.alias("status"),
        loc.alias("loc"),
    )

    def roundtrip(batches):
        for pdf in batches:
            outs = []
            for doc_id, u, st, lc in zip(
                pdf["doc_id"].astype("int64"), pdf["url"],
                pdf["status"].astype("int64"), pdf["loc"],
            ):
                st = int(st)
                if lc is None or (isinstance(lc, float)):
                    rec = (
                        b"HTTP/1.1 200 OK\r\nContent-Length: 2"
                        b"\r\n\r\nok"
                    )
                else:
                    # header-name case + padding noise per arm
                    name = (
                        b"location" if doc_id % 2 else b"LOCATION"
                    )
                    rec = (
                        b"HTTP/1.1 " + str(st).encode()
                        + b" Moved\r\nServer: x\r\n" + name
                        + b":  " + lc.encode("latin-1")
                        + b"\r\nContent-Length: 0\r\n\r\n"
                    )
                got = http_status_location(rec)
                if got is None or got[0] != st or got[1] != (
                    lc if lc is not None
                    and not isinstance(lc, float) else None
                ):
                    raise AssertionError(
                        f"x60: header roundtrip mismatch doc {doc_id}"
                    )
                outs.append((int(doc_id), u, st, got[1]))
            yield pd.DataFrame(
                outs, columns=["doc_id", "url", "status", "loc"]
            )

    parsed = raw.mapInPandas(
        roundtrip,
        "doc_id long, url string, status int, loc string",
    )
    resolved = with_resolved_url(parsed, "url", "loc", "dst_raw")
    canon = with_canonical_url(resolved, "dst_raw", "dst")
    edges = with_canonical_url(canon, "url", "src").select(
        "doc_id",
        "src",
        "status",
        F.when(F.col("loc").isNull(), F.lit(None)).otherwise(
            F.col("dst")
        ).alias("dst"),
    )
    # stage-boundary cache (the w5/flagship idiom): edges feeds the
    # hop table AND the nxt/more branches — uncached, the Arrow
    # roundtrip + both staged URL chains re-execute per branch
    # (measured 22 s vs 8 s at sf0.01)
    edges = edges.cache()
    nxt = (
        edges.where(F.col("dst").isNotNull())
        .select(F.col("src").alias("cur"), F.col("dst").alias("nxt"))
    )
    step = edges.select(
        "doc_id",
        F.col("src").alias("u"),
        "status",
        F.coalesce("dst", "src").alias("cur"),
        F.when(F.col("dst").isNull(), F.lit(0))
        .otherwise(F.lit(1)).alias("hops"),
    )
    for _ in range(2):  # bounded: 3 hops total
        step = step.join(nxt, "cur", "left").select(
            "doc_id",
            "u",
            "status",
            F.coalesce("nxt", "cur").alias("cur"),
            (
                F.col("hops")
                + F.when(F.col("nxt").isNotNull(), 1).otherwise(0)
            ).alias("hops"),
        )
    more = nxt.withColumnRenamed("nxt", "more")
    return step.join(more, "cur", "left").select(
        "doc_id",
        F.col("u").alias("url"),
        F.col("status").cast("int").alias("status"),
        F.when(F.col("more").isNotNull(), F.lit(""))
        .otherwise(F.col("cur")).alias("final"),
        F.when(F.col("more").isNotNull(), F.lit(3))
        .otherwise(F.col("hops")).cast("int").alias("hops"),
        F.col("more").isNotNull().alias("unresolved"),
    )


@q(
    "x65_rel_canonical",
    """
WITH pages AS (
    SELECT doc_id,
        CAST(doc_id % 4 AS INTEGER) AS arm,
        doc_id % 40 AS k,
        'https://host' || CAST(doc_id % 23 AS VARCHAR)
            || '.example.com/p/' || CAST(doc_id AS VARCHAR)
            AS page_url
    FROM documents
),
resolved AS (
    SELECT doc_id, page_url,
        CASE arm
            WHEN 0 THEN page_url
            WHEN 1 THEN 'https://host'
                || CAST((doc_id % 40) % 23 AS VARCHAR)
                || '.example.com/canon/' || CAST(k AS VARCHAR)
            WHEN 3 THEN 'https://host'
                || CAST(doc_id % 23 AS VARCHAR)
                || '.example.com/c/' || CAST(k AS VARCHAR)
            ELSE page_url
        END AS canonical_url
    FROM pages
)
SELECT doc_id, page_url, canonical_url,
    canonical_url = page_url AS is_self,
    CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
        AS alias_group_size
FROM resolved
""",
)
def x65(spark, sf_dir):
    """rel=canonical extraction (RFC 6596, llm/extract.py
    rel_canonical_expr) — the CONTENT-level URL-alias signal: CDNs,
    tracking parameters, and mirrored paths serve one document
    under many URLs, and the page's own ``<link rel="canonical">``
    declares the authoritative spelling; a dedup pipeline that
    ignores it keeps every alias as a distinct document. Four arms
    by doc%4: (0) SELF-canonical with case/default-port noise (the
    canonicalization must prove the self-reference equal) plus a
    SECOND canonical decoy later in the head that must not apply
    (first-wins, the <base href> convention); (1) CROSS-page
    canonical — href-before-rel attribute order, single quotes —
    onto a 40-URL pool, so alias GROUPS form and their sizes are
    hash-gated; (2) decoys only (stylesheet links, rel="canonical-x"
    — a \\b-boundary regex would accept the hyphenated decoy, the
    token match must not — and a canonical-less head) → the page
    falls back to itself; (3) a RELATIVE canonical href with an
    UNQUOTED rel attribute, resolved against the page URL through
    the shared §5.3 chain. The declared href then runs
    with_resolved_url + with_canonical_url (the x52/x53 machinery),
    and the alias-group size is one count-window over the canonical
    key — exactly the dedup merge the signal exists for. The oracle
    replays arm arithmetic, resolution, canonicalization and group
    sizes, so a wrong token match, a second-link win, a dropped
    quote style, a broken relative resolve, or a lost alias merge
    flips the hash. Scale shape: 100% JVM scan-fused extraction
    (regexp_extract_all + HOF filter + F.get — NULL out-of-bounds
    even under ANSI), staged resolve/canonical chains, ONE
    canonical-key exchange for the group window — no Python
    anywhere."""
    from trisk_datawrangle_spark.llm.extract import (
        rel_canonical_expr,
    )
    from trisk_datawrangle_spark.llm.urls import (
        with_canonical_url,
        with_resolved_url,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    arm = (did % 4).cast("int")
    k = (did % 40).cast("string")
    page_raw = F.concat(
        F.lit("HTTPS://Host"), (did % 23).cast("string"),
        F.lit(".Example.COM:443/p/"), did.cast("string"),
    )
    head = (
        F.when(arm == 0, F.concat(
            F.lit('<head><LINK REL="canonical" HREF="'), page_raw,
            F.lit('"><link rel="canonical" '
                  'href="https://decoy.example/x"></head>'),
        ))
        .when(arm == 1, F.concat(
            F.lit("<head><link href='https://Host"),
            (did % 40 % 23).cast("string"),
            F.lit(".Example.com/canon/"), k,
            F.lit("' rel='canonical'></head>"),
        ))
        .when(arm == 2, F.lit(
            '<head><link rel="stylesheet" href="/s.css">'
            '<link rel="canonical-x" href="https://no.example/">'
            "</head>"
        ))
        .otherwise(F.concat(
            F.lit("<head><link rel=canonical href=\"../c/"), k,
            F.lit('"></head>'),
        ))
    )
    staged = d.select(
        "doc_id", page_raw.alias("page_raw"),
        rel_canonical_expr(head).alias("decl"),
    ).withColumn(
        # canonical-less pages fall back to themselves BEFORE the
        # resolve (the declared href is legally relative)
        "ref", F.coalesce(F.col("decl"), F.col("page_raw"))
    )
    resolved = with_resolved_url(staged, "page_raw", "ref", "traw")
    canon = with_canonical_url(resolved, "traw", "canonical_url")
    out = with_canonical_url(canon, "page_raw", "page_url")
    win = Window.partitionBy("canonical_url")
    return out.select(
        "doc_id",
        "page_url",
        "canonical_url",
        (F.col("canonical_url") == F.col("page_url"))
        .alias("is_self"),
        F.count(F.lit(1)).over(win).cast("long")
        .alias("alias_group_size"),
    )


@q(
    "x64_warc_revisit_dedup",
    """
WITH caps AS (
    SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN doc_id % 50
             ELSE doc_id END AS p,
        'http://host' || CAST(doc_id % 23 AS VARCHAR)
            || '.example.com/a/' || CAST(doc_id AS VARCHAR)
            AS target_uri
    FROM documents
),
bodies AS (
    SELECT doc_id, p, target_uri,
        'archived payload ' || CAST(p AS VARCHAR) || ' '
            || repeat('x', 40 + CAST(p % 13 AS INTEGER)) AS body,
        CASE WHEN doc_id % 2 = 0 AND doc_id % 50 <> doc_id
             THEN doc_id % 50 ELSE doc_id END AS orig_doc
    FROM caps
)
SELECT b.doc_id, b.target_uri,
    CASE WHEN b.orig_doc = b.doc_id THEN 'response'
         ELSE 'revisit' END AS record_type,
    sha256(b.body) AS digest,
    CASE WHEN b.orig_doc = b.doc_id THEN NULL
         ELSE 'http://host' || CAST(b.orig_doc % 23 AS VARCHAR)
              || '.example.com/a/' || CAST(b.orig_doc AS VARCHAR)
    END AS refers_to,
    CAST(CASE WHEN b.orig_doc = b.doc_id
              THEN length(b.body) ELSE 0 END AS INTEGER)
        AS stored_len,
    CAST(length(b.body) AS INTEGER) AS resolved_len,
    CAST(CASE WHEN b.orig_doc = b.doc_id
              THEN 0 ELSE length(b.body) END AS INTEGER)
        AS bytes_saved
FROM bodies b
""",
)
def x64(spark, sf_dir):
    """WARC REVISIT records (ISO 28500 §6.7.2 identical-payload-
    digest) — archive-time dedup, the storage half of the dedup
    family: a web archive stores each distinct payload ONCE as a
    ``response`` record; a re-capture whose payload digest matches
    an earlier capture becomes a ``revisit`` record — headers only,
    ``WARC-Payload-Digest`` + ``WARC-Refers-To-Target-URI``
    pointing at the original — and READING the archive resolves the
    revisit back to the referenced payload. Half the fixture docs
    (even) draw from a 25-payload pool (the original = the pool
    doc itself), the rest are unique. The mechanics are the REAL
    distributed shape, not arithmetic: payload digests (JVM
    ``sha2(…, 256)`` — lowercase hex, bit-identical to DuckDB's
    sha256, so the digest column itself is hash-gated) →
    groupBy(digest).min(doc_id) elects each payload's original →
    broadcast join back marks revisits; the Arrow kernel then
    builds the actual WARC record per capture (warc_build:
    Content-Length-driven slicing, never delimiter scans) and
    parses it back (warc_records), asserting the record type, the
    digest header, the refers-to chain, and that a revisit stores
    ZERO payload bytes; resolution re-joins revisits to their
    original's stored length. The oracle replays payload classes,
    digests, original election, and the byte arithmetic — a wrong
    election (min rule), a revisit that silently stores its body, a
    broken refers-to URI, or a digest drift flips the hash. Scale
    shape: one digest aggregate (map-side combine over
    dimension-sized distinct digests) + two broadcast joins + a
    per-row Arrow build/parse roundtrip — no corpus shuffle beyond
    the digest dedup, the d1-class plan plus archival plumbing."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.extract import (
        warc_build,
        warc_records,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    p = F.when(did % 2 == 0, did % 50).otherwise(did)
    uri = F.concat(
        F.lit("http://host"), (did % 23).cast("string"),
        F.lit(".example.com/a/"), did.cast("string"),
    )
    body = F.concat(
        F.lit("archived payload "), p.cast("string"), F.lit(" "),
        F.expr("repeat('x', 40 + CAST(pmod(__p, 13) AS INT))"),
    )
    staged = d.select(
        "doc_id", p.alias("__p"), uri.alias("target_uri")
    ).withColumn("body", body)
    digests = staged.withColumn("digest", F.sha2(F.col("body"), 256))
    originals = digests.groupBy("digest").agg(
        F.min("doc_id").alias("orig_doc")
    )
    marked = digests.join(F.broadcast(originals), ["digest"]).select(
        "doc_id",
        "target_uri",
        "body",
        "digest",
        "orig_doc",
        F.concat(
            F.lit("http://host"),
            (F.col("orig_doc") % 23).cast("string"),
            F.lit(".example.com/a/"),
            F.col("orig_doc").cast("string"),
        ).alias("orig_uri"),
    )

    def roundtrip(batches):
        for pdf in batches:
            ids, uris, types, digs, refs, slens = (
                [], [], [], [], [], []
            )
            for doc_id, u, b, dig, od, ou in zip(
                pdf["doc_id"].astype("int64"), pdf["target_uri"],
                pdf["body"], pdf["digest"],
                pdf["orig_doc"].astype("int64"), pdf["orig_uri"],
            ):
                doc_id, od = int(doc_id), int(od)
                is_rev = od != doc_id
                if is_rev:
                    hdrs = {
                        "WARC-Type": "revisit",
                        "WARC-Target-URI": u,
                        "WARC-Payload-Digest": "sha256:" + dig,
                        "WARC-Refers-To-Target-URI": ou,
                        "WARC-Profile":
                            "http://netpreserve.org/warc/1.0/"
                            "revisit/identical-payload-digest",
                    }
                    payload = b""
                else:
                    hdrs = {
                        "WARC-Type": "response",
                        "WARC-Target-URI": u,
                        "WARC-Payload-Digest": "sha256:" + dig,
                    }
                    payload = b.encode("utf-8")
                rec = warc_build([(hdrs, payload)],
                                 gzip_members=doc_id % 2 == 0)
                got = warc_records(rec)
                if (
                    got is None or len(got) != 1
                    or got[0][0].get("WARC-Type")
                    != ("revisit" if is_rev else "response")
                    or got[0][0].get("WARC-Payload-Digest")
                    != "sha256:" + dig
                    or got[0][1] != payload
                    or (is_rev and got[0][0].get(
                        "WARC-Refers-To-Target-URI") != ou)
                ):
                    raise AssertionError(
                        f"x64: WARC revisit roundtrip mismatch doc "
                        f"{doc_id}"
                    )
                ids.append(doc_id)
                uris.append(u)
                types.append("revisit" if is_rev else "response")
                digs.append(dig)
                refs.append(ou if is_rev else None)
                slens.append(len(got[0][1]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "target_uri": uris,
                    "record_type": types,
                    "digest": digs,
                    "refers_to": refs,
                    "stored_len": slens,
                }
            )

    parsed = marked.mapInPandas(
        roundtrip,
        "doc_id long, target_uri string, record_type string,"
        " digest string, refers_to string, stored_len long",
    )
    # reading the archive: a revisit resolves to the referenced
    # original's stored payload — one broadcast join on the
    # refers-to URI against the response records' lengths
    resp_lens = parsed.where(
        F.col("record_type") == "response"
    ).select(
        F.col("target_uri").alias("refers_to"),
        F.col("stored_len").alias("__orig_len"),
    )
    resolved = parsed.join(
        F.broadcast(resp_lens), ["refers_to"], "left"
    )
    rlen = F.coalesce(F.col("__orig_len"), F.col("stored_len"))
    return resolved.select(
        "doc_id",
        "target_uri",
        "record_type",
        "digest",
        "refers_to",
        F.col("stored_len").cast("int").alias("stored_len"),
        rlen.cast("int").alias("resolved_len"),
        (rlen - F.col("stored_len")).cast("int")
        .alias("bytes_saved"),
    )


@q(
    "x63_sitemap_gzip",
    f"""
WITH sm AS ({_X54_SQL})
SELECT doc_id, url_idx, loc, lastmod, FALSE AS refused
FROM sm WHERE doc_id % 17 <> 0
UNION ALL
SELECT doc_id, CAST(-1 AS INTEGER), '', '', TRUE
FROM documents WHERE doc_id % 17 = 0
""",
)
def x63(spark, sf_dir):
    """GZIPPED sitemap ingestion (sitemaps.org: sitemap files MAY
    be gzip-compressed, and large sites' usually are — a crawler
    that cannot inflate .xml.gz silently loses those URL spaces) —
    x54's channel with the compression layer made real: each doc's
    urlset XML (the SHARED _sitemap_urlset_xml fixture — one
    builder, x54/x59/x63 cannot drift) is gzip-SERIALIZED and
    inflated back through the BOUNDED gunzip (llm/extract.py
    _bounded_gunzip — the s11 WARC discipline: a member inflating
    past the 8 MB cap is a decompression bomb, refused, never
    inflated into executor memory), the kernel asserting the
    byte roundtrip; every 17th doc's sitemap IS a bomb (a tiny
    gzip member claiming 9 MB of zeros) and must surface as a
    refused row (url_idx=-1, loud) rather than hang, blow memory,
    or silently vanish. Inflated XML then takes x54's exact JVM
    parse chain (_sitemap_urlset_parse: regex blocks -> posexplode
    -> entity decode -> canonical locs). The oracle wraps the
    shared x54 SQL for the clean docs and pins the refused rows,
    so a lost gz member, a cap that does not fire, a refusal that
    drops the row entirely, or any parse drift flips the hash.
    Scale shape: per-row Arrow gunzip (bytes-level, no shuffle,
    linear in documents — the s11/s13 media-kernel tier) feeding
    the scan-fused JVM parse; the bomb payload is built once per
    kernel, not per row."""
    import gzip as _gzip

    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id")
    xml_df = _sitemap_urlset_xml(d)

    def inflate(batches):
        from trisk_datawrangle_spark.llm.extract import (
            _bounded_gunzip,
        )

        bomb = _gzip.compress(bytes(9 * 1024 * 1024), 1)
        for pdf in batches:
            ids, xmls, refs = [], [], []
            for doc_id, xml in zip(
                pdf["doc_id"].astype("int64"), pdf["xml"]
            ):
                doc_id = int(doc_id)
                if doc_id % 17 == 0:
                    if _bounded_gunzip(bomb) is not None:
                        raise AssertionError(
                            "x63: the inflate cap did not fire"
                        )
                    ids.append(doc_id)
                    xmls.append("")
                    refs.append(True)
                    continue
                payload = _gzip.compress(xml.encode("utf-8"), 6)
                got = _bounded_gunzip(payload)
                if got is None or got.decode("utf-8") != xml:
                    raise AssertionError(
                        f"x63: gzip roundtrip mismatch doc {doc_id}"
                    )
                ids.append(doc_id)
                xmls.append(xml)
                refs.append(False)
            yield pd.DataFrame(
                {"doc_id": ids, "xml": xmls, "refused": refs}
            )

    k = xml_df.mapInPandas(
        inflate, "doc_id long, xml string, refused boolean"
    )
    parsed = _sitemap_urlset_parse(
        spark, k.where(~F.col("refused")).select("doc_id", "xml")
    ).select(
        "doc_id", "url_idx", "loc", "lastmod",
        F.lit(False).alias("refused"),
    )
    refused_rows = k.where(F.col("refused")).select(
        "doc_id",
        F.lit(-1).cast("int").alias("url_idx"),
        F.lit("").alias("loc"),
        F.lit("").alias("lastmod"),
        F.lit(True).alias("refused"),
    )
    return parsed.unionByName(refused_rows)


@q(
    "x61_conditional_revalidation",
    """
WITH v AS (
    SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS arm,
        CASE WHEN doc_id % 4 = 3 THEN NULL
             WHEN doc_id % 8 IN (2, 4)
             THEN 'W/"e' || CAST(doc_id AS VARCHAR) || '"'
             ELSE '"e' || CAST(doc_id AS VARCHAR) || '"'
        END AS stored_etag
    FROM documents
),
r AS (
    SELECT doc_id, arm, stored_etag,
        CASE WHEN arm = 0 THEN 304 ELSE 200 END AS status,
        CASE WHEN arm = 0 THEN stored_etag
             WHEN arm = 1 THEN '"e' || CAST(doc_id AS VARCHAR)
                 || 'v2"'
             WHEN arm = 2 THEN '"e' || CAST(doc_id AS VARCHAR) || '"'
             ELSE '"n' || CAST(doc_id AS VARCHAR) || '"'
        END AS etag,
        CASE WHEN arm = 0 THEN NULL
             ELSE 'Wed, '
                || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')
                || ' Jan 2025 00:00:'
                || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                || ' GMT'
        END AS last_modified
    FROM v
)
SELECT doc_id, CAST(status AS INTEGER) AS status, etag,
    last_modified, stored_etag,
    CASE WHEN status = 304 THEN 'not_modified'
         WHEN stored_etag IS NULL THEN 'unconditional'
         WHEN regexp_replace(etag, '^W/', '')
              = regexp_replace(stored_etag, '^W/', '')
         THEN 'wasted'
         ELSE 'updated' END AS verdict,
    (status = 304 OR (stored_etag IS NOT NULL
        AND regexp_replace(etag, '^W/', '')
            = regexp_replace(stored_etag, '^W/', ''))) AS keep_stored
FROM r
""",
)
def x61(spark, sf_dir):
    """HTTP conditional REVALIDATION (RFC 9110 §8.8/§13.1,
    llm/extract.py http_validators) — the fetch x59's recrawl queue
    actually issues: a production crawler refetches with
    ``If-None-Match`` (stored ETag, WEAK comparison) /
    ``If-Modified-Since`` and most answers are ``304 Not Modified``
    — keep the stored copy, download nothing. Four arms by doc%4:
    (0) 304 echoing the stored validator (weak ``W/`` tags — every
    doc%8=4 — survive byte-for-byte; lowercasing an entity tag
    fabricates a different tag), (1) 200 with a NEW strong tag →
    ``updated``, (2) 200 carrying the SAME entity tag the crawler
    sent — a server that ignored the conditional; detected as
    ``wasted`` (bandwidth audit), with doc%8=2 rows storing the
    WEAK form so the match must use weak comparison (strip ``W/``,
    then compare — strong equality would mis-classify them as
    updated), (3) no stored validators → ``unconditional``.
    ``keep_stored`` marks responses whose body must NOT replace the
    stored copy (304s and wasted refetches). The kernel builds a
    REAL response per doc (header-name case rotation, padding, an
    ``X-ETag`` decoy the ^-anchored regex must not match, a
    DUPLICATE trailing ETag header — first wins) and parses it back
    with http_validators, asserting the roundtrip; classification
    is a pure JVM CASE the oracle replays arithmetically — a
    dropped weak prefix, a case-mangled tag, a decoy hit, or a
    wrong comparison mode flips the hash. Scale shape: per-row
    Arrow header parse (bytes-level, no shuffle) + JVM
    classification; the stored-validator side at production scale
    is the x59 fetch-log equi-join (same canonical key), already
    proven there."""
    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    arm = (did % 4).cast("int")
    stored = F.when(did % 4 == 3, F.lit(None).cast("string")).otherwise(
        F.when(
            (did % 8).isin(2, 4),
            F.concat(F.lit('W/"e'), did.cast("string"), F.lit('"')),
        ).otherwise(
            F.concat(F.lit('"e'), did.cast("string"), F.lit('"'))
        )
    )
    resp_etag = (
        F.when(arm == 0, stored)
        .when(arm == 1, F.concat(F.lit('"e'), did.cast("string"),
                                 F.lit('v2"')))
        .when(arm == 2, F.concat(F.lit('"e'), did.cast("string"),
                                 F.lit('"')))
        .otherwise(F.concat(F.lit('"n'), did.cast("string"),
                            F.lit('"')))
    )
    lastmod = F.when(arm == 0, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("Wed, "),
            F.lpad((did % 27 + 1).cast("string"), 2, "0"),
            F.lit(" Jan 2025 00:00:"),
            F.lpad((did % 60).cast("string"), 2, "0"),
            F.lit(" GMT"),
        )
    )
    raw = d.select(
        "doc_id",
        arm.alias("arm"),
        stored.alias("stored_etag"),
        resp_etag.alias("want_etag"),
        lastmod.alias("want_lm"),
    )

    def roundtrip(batches):
        from trisk_datawrangle_spark.llm.extract import (
            http_validators,
        )

        for pdf in batches:
            ids, sts, ets, lms, stos = [], [], [], [], []
            for doc_id, a, sto, we, wl in zip(
                pdf["doc_id"].astype("int64"),
                pdf["arm"].astype("int64"),
                pdf["stored_etag"],
                pdf["want_etag"],
                pdf["want_lm"],
            ):
                doc_id, a = int(doc_id), int(a)
                status = 304 if a == 0 else 200
                ename = [b"ETag", b"etag", b"ETAG"][doc_id % 3]
                lname = [
                    b"Last-Modified", b"last-modified",
                    b"LAST-MODIFIED",
                ][doc_id % 3]
                head = bytearray(
                    b"HTTP/1.1 %d X\r\nServer: x\r\n"
                    % status
                )
                # decoy: ^-anchored name regexes must not match it
                head += b'X-ETag: "decoy"\r\n'
                head += ename + b":  " + we.encode("latin-1") + b"\r\n"
                if wl is not None and not isinstance(wl, float):
                    head += (
                        lname + b": " + wl.encode("latin-1")
                        + b"\r\n"
                    )
                # duplicate trailing header: FIRST must win
                head += b'etag: "dup"\r\n'
                if status == 304:
                    rec = bytes(head) + b"\r\n"
                else:
                    rec = (
                        bytes(head)
                        + b"Content-Length: 2\r\n\r\nok"
                    )
                got = http_validators(rec)
                want_lm = (
                    wl if wl is not None
                    and not isinstance(wl, float) else None
                )
                if got is None or got != (status, we, want_lm):
                    raise AssertionError(
                        f"x61: validator roundtrip mismatch doc "
                        f"{doc_id}: {got}"
                    )
                ids.append(doc_id)
                sts.append(status)
                ets.append(we)
                lms.append(want_lm)
                stos.append(
                    sto if sto is not None
                    and not isinstance(sto, float) else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "status": sts,
                    "etag": ets,
                    "last_modified": lms,
                    "stored_etag": stos,
                }
            )

    parsed = raw.mapInPandas(
        roundtrip,
        "doc_id long, status int, etag string,"
        " last_modified string, stored_etag string",
    )
    core = F.regexp_replace(F.col("etag"), "^W/", "")
    score = F.regexp_replace(F.col("stored_etag"), "^W/", "")
    same = F.col("stored_etag").isNotNull() & (core == score)
    return parsed.select(
        "doc_id",
        F.col("status").cast("int").alias("status"),
        "etag",
        "last_modified",
        "stored_etag",
        F.when(F.col("status") == 304, F.lit("not_modified"))
        .when(F.col("stored_etag").isNull(), F.lit("unconditional"))
        .when(same, F.lit("wasted"))
        .otherwise(F.lit("updated"))
        .alias("verdict"),
        ((F.col("status") == 304) | same).alias("keep_stored"),
    )


@q(
    "x62_retry_after_backoff",
    """
WITH r AS (
    SELECT doc_id, doc_id % 23 AS h,
        CASE CAST(doc_id % 5 AS INTEGER)
            WHEN 0 THEN 429 WHEN 1 THEN 503 WHEN 2 THEN 200
            WHEN 3 THEN 429 ELSE 503 END AS status,
        CASE CAST(doc_id % 5 AS INTEGER)
            WHEN 0 THEN CAST((doc_id % 7) * 10 + 30 AS VARCHAR)
            WHEN 1 THEN 'Wed, 01 Jan 2025 00:'
                || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                || ':'
                || lpad(CAST((doc_id * 3) % 60 AS VARCHAR), 2, '0')
                || ' GMT'
            WHEN 3 THEN 'soon'
            ELSE NULL END AS retry_after
    FROM documents
),
b AS (
    SELECT doc_id, h, status, retry_after,
        CASE WHEN retry_after IS NULL THEN
                CASE WHEN status IN (429, 503)
                     THEN 60.0 ELSE 0.0 END
             WHEN regexp_matches(retry_after, '^[0-9]+$')
                THEN CAST(retry_after AS DOUBLE)
             WHEN regexp_matches(retry_after,
                '^[A-Za-z]{3}, [0-9]{2} [A-Za-z]{3} [0-9]{4} '
                || '[0-9]{2}:[0-9]{2}:[0-9]{2} GMT$')
                THEN CAST(greatest(CAST(0 AS BIGINT),
                    CAST(epoch(try_strptime(substr(retry_after, 6),
                        '%d %b %Y %H:%M:%S GMT')) AS BIGINT)
                    - CAST(epoch(strptime('01 Jan 2025 00:30:00 GMT',
                        '%d %b %Y %H:%M:%S GMT')) AS BIGINT))
                    AS DOUBLE)
             ELSE 60.0 END AS backoff_sec
    FROM r
)
SELECT doc_id, h, CAST(status AS INTEGER) AS status, retry_after,
    backoff_sec,
    MAX(backoff_sec) OVER (PARTITION BY h) AS host_backoff_sec
FROM b
""",
)
def x62(spark, sf_dir):
    """Retry-After BACKOFF (RFC 9110 §10.2.3, llm/extract.py
    http_retry_after + llm/politeness.py retry_after_backoff_expr)
    — the throttling channel the politeness scheduler must obey: a
    real crawl sees 429/503 answers whose ``Retry-After`` carries
    either DELTA-SECONDS or an IMF-FIXDATE, and a scheduler that
    ignores it (or silently treats garbage as zero) hammers a host
    that just asked it to stop. Five arms by doc%5: (0) 429 with
    delta-seconds, (1) 503 with an IMF-fixdate converted relative
    to the fixture 'now' — dates already PAST clamp to 0, not
    negative etas (doc%60 < 30 rows), and the tz-dependence cancels
    because the expression differences two unix_timestamp readings
    (Spark 3+ cannot parse a day-of-week pattern letter, so the
    shape gate validates the full fixdate and the parse starts
    after the redundant day name), (2) a 200 with no header → 0,
    (3) 429 with a MALFORMED value → the conservative 60 s default
    (backing off on garbage beats retrying instantly), (4) 503
    with NO header → the same default. Per-host backoff = MAX over
    the host's responses (one window), the value a scheduler adds
    to the politeness_schedule eta base. The kernel builds a REAL
    response per doc (header-name case rotation, an
    ``X-Retry-After`` decoy the ^-anchored regex must not match, a
    duplicate trailing header — first wins) and asserts the
    http_retry_after roundtrip; interpretation is the pure JVM
    CASE the oracle replays, so a dropped clamp, a silent-zero
    malformed value, a decoy hit, or a tz leak flips the hash.
    Scale shape: per-row Arrow header parse (no shuffle) + JVM
    CASE + one per-host window over dimension-sized hosts."""
    import pandas as pd

    from trisk_datawrangle_spark.llm.politeness import (
        retry_after_backoff_expr,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    arm = (did % 5).cast("int")
    status = (
        F.when(arm.isin(0, 3), F.lit(429))
        .when(arm.isin(1, 4), F.lit(503))
        .otherwise(F.lit(200))
    )
    ra = (
        F.when(arm == 0, ((did % 7) * 10 + 30).cast("string"))
        .when(arm == 1, F.concat(
            F.lit("Wed, 01 Jan 2025 00:"),
            F.lpad((did % 60).cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((did * 3) % 60).cast("string"), 2, "0"),
            F.lit(" GMT"),
        ))
        .when(arm == 3, F.lit("soon"))
    )  # arms 2/4: NULL — no header
    raw = d.select(
        "doc_id", (did % 23).alias("h"), status.alias("status"),
        ra.alias("want_ra"),
    )

    def roundtrip(batches):
        from trisk_datawrangle_spark.llm.extract import (
            http_retry_after,
        )

        for pdf in batches:
            ids, hs, sts, ras = [], [], [], []
            for doc_id, h, st, wra in zip(
                pdf["doc_id"].astype("int64"),
                pdf["h"].astype("int64"),
                pdf["status"].astype("int64"),
                pdf["want_ra"],
            ):
                doc_id, st = int(doc_id), int(st)
                want = (
                    wra if wra is not None
                    and not isinstance(wra, float) else None
                )
                name = [
                    b"Retry-After", b"retry-after", b"RETRY-AFTER",
                ][doc_id % 3]
                head = bytearray(
                    b"HTTP/1.1 %d X\r\nServer: x\r\n" % st
                )
                head += b"X-Retry-After: 9999\r\n"  # decoy
                if want is not None:
                    head += (
                        name + b":  " + want.encode("latin-1")
                        + b"\r\n"
                    )
                    # duplicate trailing header: FIRST must win
                    head += b"retry-after: 1\r\n"
                rec = (
                    bytes(head) + b"Content-Length: 2\r\n\r\nok"
                )
                got = http_retry_after(rec)
                if got is None or got != (st, want):
                    raise AssertionError(
                        f"x62: retry-after roundtrip mismatch doc "
                        f"{doc_id}: {got}"
                    )
                ids.append(doc_id)
                hs.append(int(h))
                sts.append(st)
                ras.append(want)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "h": hs,
                    "status": sts,
                    "retry_after": ras,
                }
            )

    parsed = raw.mapInPandas(
        roundtrip,
        "doc_id long, h long, status int, retry_after string",
    )
    backoff = retry_after_backoff_expr(
        "retry_after", "status", "Wed, 01 Jan 2025 00:30:00 GMT"
    )
    win = Window.partitionBy("h")
    return parsed.select(
        "doc_id",
        "h",
        F.col("status").cast("int").alias("status"),
        "retry_after",
        backoff.alias("backoff_sec"),
    ).withColumn(
        "host_backoff_sec", F.max("backoff_sec").over(win)
    )


_W6_SQL = """
WITH pages AS (
    SELECT doc_id AS x FROM documents
    UNION ALL
    SELECT doc_id + 1 FROM documents
),
pcanon AS (
    SELECT x,
        'https://host' || CAST(x % 23 AS VARCHAR) || '.example.com'
        || CASE CAST(x % 3 AS INTEGER)
             WHEN 0 THEN '/q/open' || CAST(x AS VARCHAR)
             WHEN 1 THEN '/q/' || CAST(x AS VARCHAR)
             ELSE '/c/' || CAST(x AS VARCHAR) END AS canon
    FROM pages
),
-- round-1 allowed pages (the fetch set): /q/<x> on a shared-rules
-- host is the only disallowed page class (replays the robots argmax
-- arithmetically; the Spark side runs the REAL gate)
fetchable AS (
    SELECT DISTINCT x FROM pcanon
    WHERE NOT (x % 3 = 1 AND (x % 23) % 3 <> 0)
),
targets AS (
    SELECT CASE CAST(x % 5 AS INTEGER)
        WHEN 0 THEN 'https://host' || CAST(x % 23 AS VARCHAR)
            || '.example.com/t/fin' || CAST(x AS VARCHAR)
        WHEN 1 THEN 'http://host' || CAST((x + 1) % 23 AS VARCHAR)
            || '.example.com/q/bad' || CAST(x AS VARCHAR)
        WHEN 3 THEN 'https://host' || CAST((x + 2) % 23 AS VARCHAR)
            || '.example.com'
            || CASE CAST((x + 2) % 3 AS INTEGER)
                 WHEN 0 THEN '/q/open' || CAST(x + 2 AS VARCHAR)
                 WHEN 1 THEN '/q/' || CAST(x + 2 AS VARCHAR)
                 ELSE '/c/' || CAST(x + 2 AS VARCHAR) END
        ELSE NULL END AS canon
    FROM fetchable
),
u AS (
    SELECT canon, 0 AS via FROM pcanon
    UNION ALL
    SELECT canon, 1 FROM targets WHERE canon IS NOT NULL
),
f2 AS (
    SELECT canon, COUNT(*) AS n_discoveries,
        MAX(via) = 1 AS via_redirect,
        CAST(NULLIF(regexp_extract(canon,
                                  '^[a-z]+://host([0-9]+)\\.', 1), '')
             AS BIGINT) AS h,
        regexp_extract(canon, '^[a-z]+://[^/]+(/.*)', 1) AS path
    FROM u GROUP BY canon
),
hosts AS (
    SELECT CAST(i AS BIGINT) AS h FROM generate_series(0, 22) t(i)
),
rules AS (
    SELECT h, 'allow' AS verb,
        '/p/' || CAST(h % 5 AS VARCHAR) || '/ok$' AS pattern
    FROM hosts WHERE h % 3 = 0
    UNION ALL
    SELECT h, 'disallow',
        '/p/' || CAST(h % 5 AS VARCHAR) || '*'
    FROM hosts WHERE h % 3 = 0
    UNION ALL
    SELECT h, 'disallow', '/q/' FROM hosts WHERE h % 3 <> 0
    UNION ALL
    SELECT h, 'allow', '/q/open' FROM hosts WHERE h % 3 <> 0
),
rx AS (
    SELECT h, verb, pattern,
        CAST(length(pattern) AS INTEGER) AS plen,
        CASE WHEN pattern LIKE '%$'
             THEN '^' || replace(left(pattern, length(pattern) - 1),
                                 '*', '.*') || '$'
             ELSE '^' || replace(pattern, '*', '.*') END AS rx
    FROM rules
),
m AS (
    SELECT f.canon, r.verb,
        row_number() OVER (
            PARTITION BY f.canon
            ORDER BY r.plen DESC, (r.verb = 'allow') DESC,
                     r.pattern DESC
        ) AS rn
    FROM f2 f JOIN rx r ON f.h = r.h AND regexp_matches(f.path, r.rx)
),
g2 AS (
    SELECT f.canon, f.n_discoveries, f.via_redirect, f.h,
        COALESCE(w.verb, 'allow') = 'allow' AS allowed
    FROM f2 f
    LEFT JOIN (SELECT * FROM m WHERE rn = 1) w ON f.canon = w.canon
),
sched AS (
    SELECT canon,
        CAST(row_number() OVER (PARTITION BY h ORDER BY canon)
             AS INTEGER) AS slot,
        CAST((row_number() OVER (PARTITION BY h ORDER BY canon) - 1)
             * COALESCE(CASE WHEN h % 3 = 0 THEN (h % 7) + 2
                             WHEN h % 11 = 5 THEN NULL
                             ELSE 7 END, 1.0) AS DOUBLE) AS eta_sec
    FROM g2 WHERE allowed
),
rec AS (
    SELECT canon,
        CAST(regexp_extract(canon, '([0-9]+)$', 1) AS BIGINT) AS k
    FROM g2 WHERE allowed
),
rec2 AS (
    SELECT canon,
        CASE WHEN k % 4 = 0 THEN '' ELSE
            '2025-'
            || lpad(CAST((k * 3) % 12 + 1 AS VARCHAR), 2, '0')
            || '-'
            || lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0') END
            AS lastmod,
        '2025-'
        || lpad(CAST((k * 5) % 12 + 1 AS VARCHAR), 2, '0')
        || '-'
        || lpad(CAST((k + 13) % 28 + 1 AS VARCHAR), 2, '0')
            AS last_fetch
    FROM rec
),
rec3 AS (
    SELECT canon,
        (lastmod = '' OR lastmod > last_fetch) AS needs_fetch,
        CAST(CASE WHEN lastmod = '' THEN 30
             WHEN lastmod > last_fetch THEN
                (CAST(substr(lastmod, 6, 2) AS INTEGER)
                 - CAST(substr(last_fetch, 6, 2) AS INTEGER)) * 30
                + CAST(substr(lastmod, 9, 2) AS INTEGER)
                - CAST(substr(last_fetch, 9, 2) AS INTEGER)
             ELSE 0 END AS INTEGER) AS staleness
    FROM rec2
)
SELECT g.canon,
    CAST(g.n_discoveries AS BIGINT) AS n_discoveries,
    g.allowed, g.via_redirect, g.h,
    s.slot, s.eta_sec, r.needs_fetch, r.staleness
FROM g2 g
LEFT JOIN sched s ON g.canon = s.canon
LEFT JOIN rec3 r ON g.canon = r.canon
"""


@q("w6_crawl_loop_e2e", _W6_SQL)
def w6(spark, sf_dir):
    """The crawl LOOP end to end (r11 verdict Missing #2) — w5
    proved discovery -> dedup -> robots; x60 proved redirect
    following; x57/x58 proved scheduling; x59 proved recrawl. Each
    is individually oracle-gated, but only a composite catches
    CROSS-STAGE contract drift: a canonical-key mismatch between the
    redirect resolver's output and the frontier's dedup key, or a
    redirect target that skips the robots gate, survives every
    per-stage oracle. This entry chains all four stages under ONE
    canonical key: (1) DISCOVERY — each doc contributes its own
    case/default-port-noisy page URL and its successor's (so dedup
    counts are non-trivial), canonicalized through the shared JVM
    chain; (2) ROUND-1 GATE — the deduped frontier passes the REAL
    robots fixture gate (same broadcast rules dimension as x51/w5;
    /q/<x> pages on shared-rules hosts are disallowed and never
    fetched); (3) FETCH + REDIRECT — allowed pages answer by
    arm (x%5): a RELATIVE ../t/ Location resolved against the
    request URL, an absolute cross-host 302 INTO a robots-blocked
    /q/ path (the round-2 gate must kill it — the drift class this
    entry exists for), a terminal 200, and a 301 onto an
    ALREADY-DISCOVERED page whose frontier entry must MERGE (dedup
    count +1, via_redirect flips true); (4) ROUND-2 FRONTIER —
    discoveries union redirect targets, re-deduped on the canonical
    key alone and re-gated; (5) SCHEDULE — the allowed round-2
    frontier takes the factored politeness_schedule operator (flat
    x57 shape) with the robots meta dimension's per-host delays and
    the 1.0 s no-delay default; (6) RECRAWL — every allowed URL
    (redirect targets INCLUDED: the redirected-URL-reaches-recrawl
    assertion) gets the x59 lastmod/fetch-history arithmetic keyed
    on the URL's trailing integer, absent-lastmod rows (k%4=0)
    taking the age prior. The oracle replays discovery arithmetic,
    dedup counts, the robots argmax, the schedule window, and the
    recrawl arithmetic — so a canon drift between stages, a target
    skipping either gate, a lost merge, a NULL eta, or a redirect
    target missing from the recrawl queue flips the hash. Scale
    shape: scan-fused JVM discovery -> ONE corpus-sized exchange
    (the canonical-key dedup); the round-2 re-dedup sums the
    round-1 COUNTS with the targets, so it is frontier-sized — the
    corpus is touched exactly once; both rules joins and the delay
    join are broadcasts; the schedule window re-partitions only the
    deduped frontier; redirect resolution is the same staged JVM
    chain as x60 (no Python, no driver loop); f1 and g2 take
    localCheckpoint lineage cuts at their stage boundaries (the w0
    scenarios idiom — each feeds two branches, and the uncut tree
    stacks the canonical chain under both gates and blows the
    serialized task size)."""
    from trisk_datawrangle_spark.llm.urls import (
        with_canonical_url,
        with_resolved_url,
    )

    rules = _robots_fixture_rules(spark)  # shared with x51/w5
    delays = _robots_fixture_meta(spark).select(
        "h", "crawl_delay"
    ).distinct()
    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")

    def page_path(x):
        xs = x.cast("string")
        return (
            F.when(x % 3 == 0, F.concat(F.lit("/q/open"), xs))
            .when(x % 3 == 1, F.concat(F.lit("/q/"), xs))
            .otherwise(F.concat(F.lit("/c/"), xs))
        )

    own_raw = F.concat(
        F.lit("HTTPS://Host"), (did % 23).cast("string"),
        F.lit(".Example.COM:443"), page_path(did),
    )
    nbr = did + 1
    nbr_raw = F.concat(
        F.lit("https://HOST"), (nbr % 23).cast("string"),
        F.lit(".example.com"), page_path(nbr),
    )
    disc = with_canonical_url(
        d.select(F.explode(F.array(own_raw, nbr_raw)).alias("raw")),
        "raw", "canon",
    ).select("canon")

    # round 1: dedup FIRST (the one corpus-sized exchange), then a
    # lineage cut — everything downstream is frontier-sized, and the
    # plan tree the final stages serialize stays flat (the w0
    # scenarios localCheckpoint idiom; an uncut tree stacks the
    # canonical chain under both gates' joins and blows the driver
    # task size)
    f1 = disc.groupBy("canon").agg(
        F.count(F.lit(1)).alias("n1")
    ).localCheckpoint(eager=False)
    fetch = (
        robots_verdict(_with_host_path(f1), rules, ["canon"])
        .where(F.col("allowed"))
        .select("canon")
    )
    x = F.regexp_extract(
        F.col("canon"), "([0-9]+)$", 1
    ).cast("long")
    arm = x % 5
    loc = (
        F.when(arm == 0, F.concat(F.lit("../t/fin"),
                                  x.cast("string")))
        .when(arm == 1, F.concat(
            F.lit("HTTP://Host"), ((x + 1) % 23).cast("string"),
            F.lit(".Example.com:80/q/bad"), x.cast("string"),
        ))
        .when(arm == 3, F.concat(
            F.lit("https://Host"), ((x + 2) % 23).cast("string"),
            F.lit(".Example.com"), page_path(x + 2),
        ))
    )  # arms 2/4: NULL — terminal 200, no Location
    redirected = fetch.withColumn("loc", loc).where(
        F.col("loc").isNotNull()
    )
    # Location resolves against the REQUEST URL through the shared
    # JVM chains (the x60 contract), then re-enters the frontier
    resolved = with_resolved_url(redirected, "canon", "loc", "traw")
    # third lineage cut: the stacked resolve+canonical staged
    # projections under the round-2 union/aggregate/gate send the
    # optimizer into a measured 23 s re-analysis spiral (0.9 s with
    # the cut) — targets is frontier-sized, the cheapest place to
    # flatten
    targets = (
        with_canonical_url(resolved, "traw", "tcanon")
        .select(F.col("tcanon").alias("canon"))
        .localCheckpoint(eager=False)
    )
    # round 2: the deduped round-1 counts UNION the redirect
    # targets -> re-dedup on the canonical key alone -> re-gate
    # (the loop closes HERE). Summing the round-1 COUNTS instead of
    # re-unioning the raw discovery rows keeps the second exchange
    # frontier-sized — the corpus is touched exactly once
    f2 = (
        f1.select(
            "canon", F.col("n1").alias("n"), F.lit(0).alias("via")
        )
        .unionByName(
            targets.select(
                "canon", F.lit(1).alias("n"), F.lit(1).alias("via")
            )
        )
        .groupBy("canon")
        .agg(
            F.sum("n").alias("n_discoveries"),
            (F.max("via") == 1).alias("via_redirect"),
        )
    )
    # second lineage cut: g2 feeds the schedule window AND the
    # final join — flat on both branches
    g2 = (
        robots_verdict(_with_host_path(f2), rules, ["canon"])
        .drop("path", "rule")
        .localCheckpoint(eager=False)
    )
    sched = politeness_schedule(
        g2.where(F.col("allowed")).join(F.broadcast(delays), ["h"], "left")
    ).select("canon", "slot", "eta_sec")
    # recrawl arithmetic (the x59 contract) keyed on the trailing
    # integer — redirect targets included, so a target that reached
    # the allowed frontier MUST surface in the recrawl queue
    k = F.regexp_extract(F.col("canon"), "([0-9]+)$", 1).cast("long")
    lastmod = F.when(k % 4 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("2025-"),
            F.lpad(((k * 3) % 12 + 1).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((k % 28 + 1).cast("string"), 2, "0"),
        )
    )
    last_fetch = F.concat(
        F.lit("2025-"),
        F.lpad(((k * 5) % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((k + 13) % 28 + 1).cast("string"), 2, "0"),
    )
    # disallowed rows are never fetched, so they stay NULL
    needs_fetch, staleness = recrawl_staleness("lastmod", "last_fetch")
    allowed = F.col("allowed")
    joined = g2.join(sched, ["canon"], "left").select(
        "*", lastmod.alias("lastmod"), last_fetch.alias("last_fetch")
    )
    return joined.select(
        "canon",
        F.col("n_discoveries").cast("long").alias("n_discoveries"),
        "allowed",
        "via_redirect",
        F.col("h").cast("long").alias("h"),
        F.col("slot").cast("int").alias("slot"),
        F.col("eta_sec").cast("double").alias("eta_sec"),
        F.when(allowed, needs_fetch).alias("needs_fetch"),
        F.when(allowed, staleness).alias("staleness"),
    )


@q(
    "x55_robots_sitemap_discovery",
    """
WITH hosts AS (
    SELECT CAST(i AS BIGINT) AS h FROM generate_series(0, 22) t(i)
),
sm AS (
    SELECT h, 0 AS sm_idx,
        'http://host' || CAST(h AS VARCHAR)
        || '.example.com/sm/' || CAST(h % 3 AS VARCHAR) || '.xml'
            AS sitemap
    FROM hosts
    UNION ALL
    SELECT h, 1,
        'http://host' || CAST(h AS VARCHAR)
        || '.example.com/extra.xml'
    FROM hosts WHERE h % 4 = 0
)
SELECT h,
    'host' || CAST(h AS VARCHAR) || '.example.com' AS host,
    CAST(sm_idx AS INTEGER) AS sm_idx,
    sitemap,
    CAST(CASE WHEN h % 3 = 0 THEN (h % 7) + 2
              WHEN h % 11 = 5 THEN NULL
              ELSE 7 END AS DOUBLE)
        AS crawl_delay
FROM sm
""",
)
def x55(spark, sf_dir):
    """robots.txt → sitemap/politeness discovery (llm/robots.py
    parse_robots_full) — the edge that closes the crawl control
    plane's discovery loop: a production scheduler bootstraps from
    exactly this (fetch robots.txt, surface its global ``Sitemap:``
    URLs into the sitemap-ingestion channel (x54), and take the
    selected group's ``Crawl-delay:`` as the per-host politeness
    budget). The 23 fixture bodies are the SAME ones x51/w5 parse
    rules from (_robots_fixture_body — one builder, no drift); each
    carries a decoy ``Crawl-delay: 99`` in the otherbot group that
    must NEVER surface, a ``*``-group delay of 7 (OMITTED entirely
    on h%11==5 hosts — the delay surfaces as NULL, and the scheduler
    x57 pins the default), an OVERRIDING
    specific-group delay of (h%7)+2 on h%3==0 hosts (group selection
    decides politeness, not just rules), a case/default-port-noisy
    global Sitemap line (canonicalized through the x52 chain before
    it enters the channel), and on h%4==0 hosts a second lowercase
    no-space ``sitemap:`` spelling at end of file. The oracle
    replays sitemap count/order/canonical form and the delay
    arithmetic, so a group-selection slip (decoy delay leaking, *
    beating specific), a missed global/second sitemap, or a broken
    canonicalization flips the hash. Scale shape: robots meta is a
    per-host KB dimension — parsed once per host, broadcast
    everywhere (the x51 rules-dimension discipline); at 100 TB this
    never touches the frontier's exchanges."""
    from trisk_datawrangle_spark.llm.urls import with_canonical_url

    meta = _robots_fixture_meta(spark)
    canon = with_canonical_url(meta, "sitemap_raw", "sitemap")
    return canon.select(
        "h",
        F.concat(
            F.lit("host"), F.col("h").cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.col("sm_idx").cast("int").alias("sm_idx"),
        "sitemap",
        F.col("crawl_delay").cast("double").alias("crawl_delay"),
    )


#: w5's oracle SQL — shared with x57, which schedules the SAME
#: frontier (one source of truth for the control-plane fixture).
_W5_SQL = """
WITH hosts AS (
    SELECT CAST(i AS BIGINT) AS h FROM generate_series(0, 22) t(i)
),
rules AS (
    SELECT h, 'allow' AS verb,
        '/p/' || CAST(h % 5 AS VARCHAR) || '/ok$' AS pattern
    FROM hosts WHERE h % 3 = 0
    UNION ALL
    SELECT h, 'disallow',
        '/p/' || CAST(h % 5 AS VARCHAR) || '*'
    FROM hosts WHERE h % 3 = 0
    UNION ALL
    SELECT h, 'disallow', '/q/' FROM hosts WHERE h % 3 <> 0
    UNION ALL
    SELECT h, 'allow', '/q/open' FROM hosts WHERE h % 3 <> 0
),
rx AS (
    SELECT h, verb, pattern,
        CAST(length(pattern) AS INTEGER) AS plen,
        CASE WHEN pattern LIKE '%$'
             THEN '^' || replace(left(pattern, length(pattern) - 1),
                                 '*', '.*') || '$'
             ELSE '^' || replace(pattern, '*', '.*') END AS rx
    FROM rules
),
links AS (
    SELECT d.doc_id, j.j,
        CASE j.j
            WHEN 0 THEN 'http://host'
                || CAST((d.doc_id + 1) % 23 AS VARCHAR)
                || '.example.com/p/'
                || CAST(d.doc_id % 5 AS VARCHAR) || '/x'
            WHEN 1 THEN 'https://host'
                || CAST(d.doc_id % 23 AS VARCHAR)
                || '.example.com/q/' || CAST(d.doc_id AS VARCHAR)
            WHEN 2 THEN 'http://host' || CAST(d.doc_id % 23 AS VARCHAR)
                || '.example.com/s/p' || CAST(d.doc_id % 4 AS VARCHAR)
                || '?a=1&b=2'
            WHEN 3 THEN 'http://host' || CAST(d.doc_id % 23 AS VARCHAR)
                || '.example.com/q/open' || CAST(d.doc_id AS VARCHAR)
            ELSE 'https://host'
                || CAST((d.doc_id + 2) % 23 AS VARCHAR)
                || '.example.com/p/'
                || CAST(((d.doc_id + 2) % 23) % 5 AS VARCHAR)
                || '/ok'
        END AS canon
    FROM documents d, unnest(generate_series(0, 4)) AS j(j)
    -- meta-robots nofollow pages contribute NO outlinks
    WHERE d.doc_id % 17 <> 0
    UNION ALL
    -- the robots -> sitemap discovery edge: each host's advertised
    -- Sitemap URLs (x55's meta dimension) enter the frontier once
    SELECT CAST(-1 AS BIGINT), 0,
        'http://host' || CAST(h AS VARCHAR)
        || '.example.com/sm/' || CAST(h % 3 AS VARCHAR) || '.xml'
    FROM generate_series(0, 22) t(h)
    UNION ALL
    SELECT CAST(-1 AS BIGINT), 1,
        'http://host' || CAST(h AS VARCHAR)
        || '.example.com/extra.xml'
    FROM generate_series(0, 22) t(h) WHERE h % 4 = 0
),
dedup AS (
    SELECT canon, COUNT(*) AS n_discoveries
    FROM links GROUP BY canon
),
verdicts AS (
    SELECT canon, n_discoveries,
        CAST(NULLIF(regexp_extract(canon,
                                  '^[a-z]+://host([0-9]+)\\.', 1), '')
             AS BIGINT) AS h,
        regexp_extract(canon, '^[a-z]+://[^/]+(/.*)', 1) AS path
    FROM dedup
),
m AS (
    SELECT v.canon, r.verb, r.pattern,
        row_number() OVER (
            PARTITION BY v.canon
            ORDER BY r.plen DESC, (r.verb = 'allow') DESC,
                     r.pattern DESC
        ) AS rn
    FROM verdicts v
    JOIN rx r ON v.h = r.h AND regexp_matches(v.path, r.rx)
)
SELECT v.canon,
    CAST(v.n_discoveries AS BIGINT) AS n_discoveries,
    COALESCE(w.verb, 'allow') = 'allow' AS allowed,
    COALESCE(w.pattern, '') AS rule,
    CAST(CASE WHEN v.h % 3 = 0 THEN (v.h % 7) + 2
              WHEN v.h % 11 = 5 THEN NULL
              ELSE 7 END
         AS DOUBLE) AS crawl_delay
FROM verdicts v
LEFT JOIN (SELECT * FROM m WHERE rn = 1) w ON v.canon = w.canon
"""


@q("w5_crawl_frontier_e2e", _W5_SQL)
def w5(spark, sf_dir):
    """The crawl control plane END TO END — the e2e composite (the
    w0-w4 idiom) proving the round-9 pieces COMPOSE: per page,
    discovery yields (0) an absolute anchor with case/default-port
    noise and a fragment, (1) a '../'-relative href resolved against
    the page base (§5.3 merge + dot resolution), (2) an
    entity-escaped sitemap loc, (3)/(4) two TIE-BREAK arms — URLs
    matching two robots rules, so longest-match-allow-wins is
    non-vacuous, one through the ``$``-anchored Allow — and (5) a
    mailto: link; refs go xml_unescape → with_resolved_url →
    with_canonical_url, the mailto canonicalizes to '' and MUST be
    filtered (dropping the filter leaves phantom rows — hash flip);
    PLUS the robots→sitemap discovery edge (since r10): every host's
    robots-advertised Sitemap URLs (the x55 meta dimension) union
    into the frontier as first-class discoveries, fetched through
    the same dedup and politeness gate as page URLs;
    PLUS the meta-robots discovery edge (r11): every 17th page's
    head carries ``<meta name="robots" content="noindex, nofollow">``
    parsed by the real JVM predicate (meta_robots_expr) — its
    outlinks never enter the frontier, with decoy spellings
    (generator-meta saying "nofollow", a benign robots
    "index, follow") that must NOT trigger;
    the deduped frontier (groupBy on the canonical key ALONE, host
    and path derived after the aggregate) then passes the robots
    gate: the SAME per-host rule fixture as x51
    (_robots_fixture_rules — one builder, entries cannot drift),
    parsed by the REAL parser, broadcast-joined on host, longest-
    match-allow-wins argmax. Output = one row per distinct frontier
    URL with discovery count, verdict, matched rule, and the
    per-host ``crawl_delay`` politeness budget (the x55 meta
    dimension from the SAME robots bodies, broadcast on h). The oracle
    rebuilds expected canonical URLs arithmetically (resolution and
    canonicalization are oracle-gated entry-by-entry in x52/x53/x54;
    HERE the oracle independently replays dedup counts and robots
    matching), so a wrong merge, canon, group-selection, dedup key,
    or argmax ordering flips the hash. Scale shape (verified in the
    executed plan): scan-fused JVM discovery → ONE corpus-sized
    exchange (the canonical-key dedup) → everything downstream
    operates on the DEDUPED frontier: the rules join and the final
    verdict join are both broadcasts, and the argmax re-partitions
    only the tiny frontier (an AQE cache boundary does not preserve
    output partitioning — the cache saves re-executing the whole
    discovery subtree per branch, 25 s vs 8 s at sf0.1, and costs a
    frontier-sized re-exchange)."""
    from trisk_datawrangle_spark.llm.extract import (
        meta_robots_expr,
        xml_unescape_expr,
    )
    from trisk_datawrangle_spark.llm.urls import (
        with_canonical_url,
        with_resolved_url,
    )

    rules = _robots_fixture_rules(spark)  # shared with x51
    # the politeness budget: per-host crawl delay from the SAME
    # robots bodies (x55 gates the parse; here it rides the gate)
    delays = _robots_fixture_meta(spark).select(
        "h", "crawl_delay"
    ).distinct()
    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    base = F.concat(
        F.lit("https://Host"), (did % 23).cast("string"),
        F.lit(".Example.com/dir"), (did % 7).cast("string"),
        F.lit("/page"), did.cast("string"), F.lit(".html"),
    )
    refs = F.array(
        F.concat(F.lit("HTTP://Host"), ((did + 1) % 23).cast("string"),
                 F.lit(".Example.com:80/p/"), (did % 5).cast("string"),
                 F.lit("/x#f")),
        F.concat(F.lit("../q/"), did.cast("string")),
        F.concat(F.lit("http://Host"), (did % 23).cast("string"),
                 F.lit(".example.com/s/p"), (did % 4).cast("string"),
                 F.lit("?a=1&amp;b=2")),
        # tie-break arms — URLs matching TWO rules, so the
        # longest-match-allow-wins argmax is non-vacuous:
        # /q/open{d} hits Disallow /q/ AND the longer Allow /q/open
        F.concat(F.lit("http://Host"), (did % 23).cast("string"),
                 F.lit(".example.com/q/open"), did.cast("string"),
                 F.lit("#x")),
        # /p/{k%5}/ok on a trisk host hits Disallow /p/k* AND the
        # longer $-anchored Allow /p/k/ok$ (a broken '$' translation
        # kills the Allow -> verdict flips)
        F.concat(F.lit("//Host"), ((did + 2) % 23).cast("string"),
                 F.lit(".Example.com/p/"),
                 (((did + 2) % 23) % 5).cast("string"), F.lit("/ok")),
        F.lit("mailto:contact@example.com"),
    )
    # the page-level politeness channel (r10 verdict Missing #5):
    # every 17th page's head carries <meta name=robots
    # content="noindex, nofollow"> — parsed by the REAL predicate
    # (llm/extract.py meta_robots_expr), its outlinks never enter
    # the frontier; a decoy generator-meta spelling "nofollow" and a
    # benign robots "index, follow" must NOT trigger
    head = (
        F.when(
            did % 17 == 0,
            F.lit(
                '<head><META NAME="ROBOTS" CONTENT='
                '"NOINDEX, NOFOLLOW"></head>'
            ),
        )
        .when(
            did % 17 == 1,
            F.lit(
                '<head><meta name="generator" '
                'content="nofollow-cms">'
                '<meta content="index, follow" name="robots">'
                "</head>"
            ),
        )
        .otherwise(
            F.lit('<head><meta name="description" content="p"></head>')
        )
    )
    links = (
        d.withColumn("head", head)
        .where(~meta_robots_expr("head", "nofollow"))
        .select(
            "doc_id",
            base.alias("base"),
            F.explode(refs).alias("rawref"),
        )
        .withColumn("ref", xml_unescape_expr(F.col("rawref")))
    )
    resolved = with_resolved_url(links, "base", "ref", "raw")
    # the non-http(s) drop (mailto arm) sits BELOW the checkpoint: a
    # .where(canon != '') here gets predicate-pushed through every
    # staged projection, substituting the alias at each step — the
    # executed plan blew up from 5 KB to 309 KB with NINETEEN inlined
    # copies of the percent fold, re-running the whole
    # canonicalization per reference. The '' URLs form one group in
    # the dedup aggregate and are dropped right after the
    # plan-truncation boundary — same output rows.
    canon = with_canonical_url(resolved, "raw", "canon")
    # the robots -> sitemap discovery edge: every host's advertised
    # Sitemap URLs (the x55 meta dimension, parsed from the same
    # robots bodies as the rules) enter the frontier as first-class
    # discoveries — the scheduler fetches sitemap files through the
    # same dedup + politeness gate as page URLs. 23-29 rows: a
    # dimension-sized union, invisible at scale.
    sm_discoveries = with_canonical_url(
        _robots_fixture_meta(spark), "sitemap_raw", "canon"
    ).select("canon")
    canon = canon.select("canon").unionByName(sm_discoveries)
    # dedup on the canonical key ALONE: h and path are pure
    # functions of canon, so deriving them AFTER the aggregate lets
    # the verdict's groupBy and its canon-keyed join both reuse this
    # exchange's HashPartitioning(canon) — grouping by
    # (canon, h, path) forced two extra exchanges downstream
    frontier = _with_host_path(
        canon.groupBy("canon").agg(
            F.count(F.lit(1)).alias("n_discoveries")
        )
    )
    # stage boundary: frontier feeds BOTH the rules-match branch and
    # the verdict's left join — uncached, the whole
    # discover→resolve→canonicalize→dedup subtree re-executes per
    # branch (measured 25 s vs 7 s at sf0.1). An EAGER
    # localCheckpoint rather than cache (the q9 idiom): .cache()
    # still PLANS the giant URL-expression subtree into every
    # consumer branch, so each AQE stage materialization
    # re-optimizes and re-codegens those regex trees; the checkpoint
    # truncates the plan to the tiny frontier RDD. The '' drop lands
    # HERE, where the predicate has no lineage left to push into
    # (see the note at the canon stage). It covers both sides of the
    # robots -> sitemap union: a sitemap URL that canonicalizes to ''
    # (non-http scheme, non-ASCII host) is dropped like a mailto:
    # link.
    frontier = frontier.localCheckpoint(eager=True).where(
        F.col("canon") != ""
    )
    return (
        robots_verdict(frontier, rules, ["canon"])
        # per-host politeness budget: another broadcast dimension on
        # the same h key — no new frontier exchange
        .join(F.broadcast(delays), ["h"], "left")
        .select(
            "canon",
            F.col("n_discoveries").cast("long")
            .alias("n_discoveries"),
            "allowed",
            "rule",
            F.col("crawl_delay").cast("double").alias("crawl_delay"),
        )
    )


@q(
    "x57_politeness_schedule",
    f"""
WITH base AS ({_W5_SQL}),
allowed AS (
    SELECT canon,
        COALESCE(crawl_delay, {DEFAULT_CRAWL_DELAY}) AS crawl_delay,
        CAST(NULLIF(regexp_extract(canon,
                                  '^[a-z]+://host([0-9]+)\\.', 1), '')
             AS BIGINT) AS h
    FROM base WHERE allowed
)
SELECT canon, h,
    CAST(row_number() OVER (PARTITION BY h ORDER BY canon)
         AS INTEGER) AS slot,
    CAST((row_number() OVER (PARTITION BY h ORDER BY canon) - 1)
         * crawl_delay AS DOUBLE) AS eta_sec
FROM allowed
""",
)
def x57(spark, sf_dir):
    """Politeness SCHEDULING — the last stage of the crawl control
    plane: the robots-gated frontier (w5's exact output — one
    function call, one source of truth) becomes a per-host fetch
    plan. Each host's Crawl-delay is a budget of one fetch per
    ``delay`` seconds, so the schedule is a deterministic per-host
    ordering (slot = row_number over the canonical URL — any stable
    key works; canon is the one both engines already share) with
    ``eta_sec = (slot-1) * crawl_delay``: the earliest time the
    fetcher may issue each URL relative to the host's first fetch.
    Hosts publishing NO Crawl-delay (fixture hosts 5/16 — the common
    real-world case) take the explicit llm/politeness.py
    ``DEFAULT_CRAWL_DELAY`` via coalesce in BOTH engines, so a NULL
    budget can never propagate NULL etas. Disallowed URLs never enter
    the plan. The schedule is llm/politeness.py
    ``politeness_schedule`` with no big hosts: ONE window per host
    over the already-deduped frontier — per-host sequential
    scheduling is inherently per-host ordered, so a hash-partitioned
    window on h is the minimal plan (x58 adds the mega-host shard
    column, measured at 15M rows/50% hot-share in
    scripts/bench_politeness_skew.py, BENCH_SKEW_r11). The oracle
    wraps the FULL w5 SQL (shared constant — the fixtures cannot
    drift) with the same window arithmetic, so a verdict flip, a
    lost delay, or an unstable slot order flips the hash."""
    allowed = _with_host_path(w5(spark, sf_dir).where(F.col("allowed")))
    return politeness_schedule(allowed).select(
        "canon", "h", "slot", "eta_sec"
    )


@q(
    "x58_politeness_sharded",
    f"""
WITH frontier AS (
    SELECT
        CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 23 END AS h,
        'https://host'
        || CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                     ELSE doc_id % 23 END AS VARCHAR)
        || '.example.com/p' || CAST(doc_id % 8 AS VARCHAR)
        || '/u' || CAST(doc_id AS VARCHAR) AS canon,
        CASE WHEN (CASE WHEN doc_id % 2 = 0 THEN 0
                        ELSE doc_id % 23 END) % 7 = 0 THEN NULL
             ELSE CAST((CASE WHEN doc_id % 2 = 0 THEN 0
                             ELSE doc_id % 23 END) % 3 + 1 AS DOUBLE)
        END AS crawl_delay
    FROM documents
),
sharded AS (
    SELECT h, canon,
        COALESCE(crawl_delay, {DEFAULT_CRAWL_DELAY}) AS delay,
        CASE WHEN h = 0
             THEN CAST(regexp_extract(canon, '/p([0-9]+)/', 1)
                       AS INTEGER) % 4
             ELSE 0 END AS shard
    FROM frontier
)
SELECT h, CAST(shard AS INTEGER) AS shard, canon,
    CAST(row_number() OVER (PARTITION BY h, shard ORDER BY canon)
         AS INTEGER) AS slot,
    CAST((row_number() OVER (PARTITION BY h, shard ORDER BY canon)
          - 1) * delay AS DOUBLE) AS eta_sec
FROM sharded
""",
)
def x58(spark, sf_dir):
    """Mega-host SHARDED politeness scheduling (llm/politeness.py
    politeness_schedule, the x57 composition made first-class): a
    skewed frontier — host 0 owns HALF the URLs (every even doc),
    the zipfian shape real frontiers have — schedules through ONE
    window whose key gains a shard column for known-big hosts:
    host 0's URLs spread over 4 first-path-segment shards (the
    shard basis here is the arithmetic prefix index so the oracle
    can replay it in ANSI SQL; the operator's default basis is the
    same prefix through xxhash64 — see the shard_expr docstring),
    every other host keeps shard 0 and a schedule BIT-IDENTICAL to
    the flat x57 plan (the composition invariant, asserted in
    tests/test_politeness.py and gate-checked in the 15M-row skew
    bench). Hot-host delays are NULL by construction (h=0 is a
    no-delay host), so the ``DEFAULT_CRAWL_DELAY`` fallback is
    load-bearing on the hot path, not decorative. The oracle replays the frontier
    arithmetic, the shard derivation, and the per-(host, shard)
    window, so a wrong shard, a NULL eta, a slot gap, or an unstable
    order flips the hash. Scale shape: one window over the deduped
    frontier partitioned by (h, shard) — measured at 15M rows /
    50% hot-share: flat pays 4.62x under skew, 16 shards recover to
    1.49x, uniform corpora pay ~nothing (BENCH_SKEW_r11.json,
    BASELINE.md r11)."""
    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    h = F.when(did % 2 == 0, F.lit(0)).otherwise(did % 23)
    canon = F.concat(
        F.lit("https://host"), h.cast("string"),
        F.lit(".example.com/p"), (did % 8).cast("string"),
        F.lit("/u"), did.cast("string"),
    )
    delay = F.when(
        h % 7 == 0, F.lit(None).cast("double")
    ).otherwise((h % 3).cast("double") + F.lit(1.0))
    frontier = d.select(
        h.cast("long").alias("h"),
        canon.alias("canon"),
        delay.alias("crawl_delay"),
    )
    shard = F.pmod(
        F.regexp_extract(F.col("canon"), "/p([0-9]+)/", 1)
        .cast("int"),
        F.lit(4),
    ).cast("int")
    return politeness_schedule(
        frontier,
        big_hosts=[0],
        n_shards=4,
        shard_expr=shard,
    ).select("h", "shard", "canon", "slot", "eta_sec")
