"""Deduplication query suite over ``documents`` (beyond-parity extension).

Five families (SURVEY.md §7.4 / BASELINE.json north star): exact hash,
MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine. All thresholds were
calibrated on the fixtures (the corpus plants real near-duplicates: max
trigram Jaccard 0.989). Every query has a DuckDB oracle running the *same
deterministic algorithm* in SQL — including MinHash and SimHash, which is
only possible because hashing is md5-backed (functions.hashing) rather than
engine-private.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..operators import text as T
from ..operators.dedup import (
    exact_groups,
    shingles,
    shingle_key,
    shingle_key_of_tokens_sql,
    jaccard_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    lsh_candidate_pairs_capped,
    minhash_table,
    minhash_sql_exprs,
    simhash_pairs,
    simhash_sql,
    simhash_table,
)
from ..operators.dedup import poly_window_key_sql
from ..operators.similarity import (
    cosine_pairs_dense,
    lsh_bucket_sql,
    with_lsh_bucket,
)
from ..functions.vectors import cosine_similarity_sql
from ..session import persist
from .common import catalog
from .registry import register

_NORM = T.normalize_text_sql("text")

# Shared CTE: normalized text -> tokens -> 3-gram shingle list (whole-text
# fallback for <3-word docs), mirroring operators.dedup.shingles exactly.
_SHINGLE_CTE = f"""
WITH base AS (SELECT doc_id, lang, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, lang, norm, string_split(norm, ' ') AS t FROM base),
sh AS (
  SELECT doc_id, lang, norm,
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [norm] END AS s
  FROM tok)
"""

_MH = minhash_sql_exprs("s", 16)
_MH_COLS = ",\n         ".join(f"{e} AS mh{j}" for j, e in enumerate(_MH))


def _band_sql(b: int) -> str:
    concat = " || ',' || ".join(
        f"CAST(mh{b * 4 + r} AS VARCHAR)" for r in range(4)
    )
    return h60_sql(concat)


_BANDS_CTE = f"""{_SHINGLE_CTE},
mh AS (SELECT doc_id, {_MH_COLS} FROM sh),
bands AS (
  SELECT doc_id, 0 AS band_idx, {_band_sql(0)} AS band_hash FROM mh
  UNION ALL SELECT doc_id, 1, {_band_sql(1)} FROM mh
  UNION ALL SELECT doc_id, 2, {_band_sql(2)} FROM mh
  UNION ALL SELECT doc_id, 3, {_band_sql(3)} FROM mh)
"""

# Hashed-shingle member (round 11, VERDICT r10 #5): shingle identity for
# the exact-Jaccard/containment family is the dual polynomial window
# key over per-token h60s (operators.dedup.shingle_key) — one md5 per token
# instead of one md5 per window offset over a freshly-concatenated
# 3-token string. Appended after _SHINGLE_CTE/_BANDS_CTE (reuses tok);
# the MinHash band CTEs keep the legacy string shingles, unchanged.
_SHX_MEMBER = f"shx AS (SELECT doc_id, {shingle_key_of_tokens_sql('t', 3)} AS s FROM tok)"


@register(
    "dedup_exact",
    oracle=f"""
    WITH base AS (SELECT doc_id, {h60_sql(_NORM)} AS text_hash FROM documents)
    SELECT text_hash, count(*) AS n_docs, min(doc_id) AS keeper
    FROM base GROUP BY text_hash
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content; one shuffle of
    (hash, id) pairs — the cheapest full-corpus pass."""
    return exact_groups(catalog(spark, sf_dir).documents)


@register(
    "dedup_minhash_bands",
    oracle=f"""{_BANDS_CTE}
    SELECT doc_id, band_idx, band_hash FROM bands
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures banded for LSH: per document, 4 band hashes over a
    16-hash signature of word-3-gram shingles. The materialization one would
    persist for incremental dedup of a growing corpus."""
    docs = catalog(spark, sf_dir).documents
    return lsh_bands(minhash_table(docs), n_bands=4, rows_per_band=4)


@register(
    "dedup_minhash_lsh",
    oracle=f"""{_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: self-join on (band, band_hash). Only
    16-byte keys shuffle; document text never moves."""
    return lsh_candidate_pairs(catalog(spark, sf_dir).documents)


_LSH_CAP = 64  # posting-list cap: measured 4x wall / -97% pairs on a planted
               # 4k-doc hot band (SCALING.md r2); deterministic by doc_id


@register(
    "dedup_minhash_lsh_capped",
    oracle=f"""{_BANDS_CTE},
    capped AS (
      SELECT doc_id, band_idx, band_hash FROM bands
      QUALIFY row_number() OVER (
        PARTITION BY band_idx, band_hash ORDER BY doc_id) <= {_LSH_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "minhash", "lsh", "hot-key-guard"),
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the LSH candidate join: every (band,
    band_hash) posting list is truncated to its 64 id-smallest members
    before the self-join (``operators.dedup.cap_posting_lists``) — the
    hot-band guard that bounds a mega-bucket's pair fan-out at cap^2/2
    instead of |bucket|^2/2. The truncation is id-ordered and therefore
    deterministic, which is what makes this plan ORACLE-ABLE: the DuckDB
    side replays the identical QUALIFY row_number() cut, so the capped
    pipeline is value-hash-verified, not prose (VERDICT r5 #1). On the
    driver fixtures the largest bucket holds 4 docs, so output equals the
    uncapped sibling and recall loss is exactly zero; under the planted
    4,000-doc hot band (SCALING.md r2 probe) the cap removed 97% of join
    output for a 4x wall win, losing only intra-mega-cluster pairs the
    exact pass already groups. Same 16-byte shuffle rows; the added
    window's partitions ARE the posting lists, so its state is bucket-
    bounded."""
    return lsh_candidate_pairs_capped(
        catalog(spark, sf_dir).documents, cap=_LSH_CAP
    )


_RECALL_TRUE_J = 0.5  # "true near-dup" := 3-gram Jaccard >= 0.5


@register(
    "lsh_cap_recall_audit",
    oracle=f"""{_BANDS_CTE},
    {_SHX_MEMBER},
    shd AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM shx),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd
           GROUP BY doc_id),
    it AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM shd a JOIN shd b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    true_pairs AS (
      -- inverted-index form, EXACT at this threshold: a pair with
      -- jaccard >= 0.5 > 0 must share a shingle, so zero-intersection
      -- pairs (the only ones the index never materializes) cannot
      -- qualify. The naive all-pairs form is O(n^2) list_intersects and
      -- took >19 min at sf0.1 in DuckDB — same lesson as the engine side.
      SELECT it.doc_a, it.doc_b
      FROM it JOIN sz sa ON sa.doc_id = it.doc_a
              JOIN sz sb ON sb.doc_id = it.doc_b
      WHERE floor((it.i * 1.0 / (sa.n + sb.n - it.i)) * 10000.0 + 0.5)
              / 10000.0 >= {_RECALL_TRUE_J}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    bcap AS (
      SELECT doc_id, band_idx, band_hash FROM bands
      QUALIFY row_number() OVER (
        PARTITION BY band_idx, band_hash ORDER BY doc_id) <= {_LSH_CAP}
    ),
    candc AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bcap a JOIN bcap b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM true_pairs),
    c0 AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
    c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_cand_capped FROM candc),
    g0 AS (SELECT CAST(count(*) AS BIGINT) AS caught FROM true_pairs t
           JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
    g1 AS (SELECT CAST(count(*) AS BIGINT) AS caught_capped FROM true_pairs t
           JOIN candc c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    SELECT n.n_true, c0.n_cand, c1.n_cand_capped, g0.caught, g1.caught_capped,
           CASE WHEN n.n_true = 0 THEN NULL
                ELSE CAST((1000 * g0.caught) // n.n_true AS BIGINT)
           END AS recall_permille,
           CASE WHEN n.n_true = 0 THEN NULL
                ELSE CAST((1000 * g1.caught_capped) // n.n_true AS BIGINT)
           END AS recall_capped_permille
    FROM n CROSS JOIN c0 CROSS JOIN c1 CROSS JOIN g0 CROSS JOIN g1
    """,
    tags=("dedup", "lsh", "recall-audit", "hot-key-guard"),
)
def lsh_cap_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECALL NOTE for the hot-band cap, as a verified query instead of
    prose (VERDICT r5 #1 done-criterion): against ground truth (exact
    3-gram Jaccard >= 0.5 via the inverted-index similarity join — never
    all-pairs engine-side), report how many true near-dup pairs the LSH
    candidate join catches UNCAPPED vs CAPPED at 64. On the driver
    fixtures the largest band bucket holds 4 docs, so the two recalls are
    IDENTICAL — the number that justifies shipping the capped join as the
    production default. Publishing the audit keeps the trade honest the
    same way the int8-vs-PQ recall pair does: if a future corpus plants a
    mega-bucket, the capped recall visibly drops and the delta is the
    price being paid. Shape: three bounded pair tables (blocked/banded
    joins), two semi-join counts, 1-row assembly via broadcast cross
    joins; empty-fixture denominators are NULL-guarded identically in
    both engines. The banded signature table builds ONCE (persisted) and
    feeds both the uncapped and capped joins instead of re-deriving
    MinHash per entry point — measured honestly: NO wall change at sf0.1
    (5.2 vs 5.6 s, within session noise — the audit's cost is the exact
    ground-truth kernel, not the signature builds), kept for the single
    derivation and the smaller plan."""
    from ..operators.dedup import cap_posting_lists, lsh_bands

    docs = catalog(spark, sf_dir).documents
    true_pairs = persist(jaccard_pairs(docs, threshold=_RECALL_TRUE_J).select(
        "doc_a", "doc_b"
    ))
    banded = persist(lsh_bands(minhash_table(docs), n_bands=4, rows_per_band=4))

    def band_pairs(b):
        a2, b2 = b.alias("a"), b.alias("b")
        return (
            a2.join(
                b2,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    cand = band_pairs(banded)
    candc = band_pairs(cap_posting_lists(banded, cap=_LSH_CAP))
    n = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    c0 = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    c1 = candc.agg(F.count(F.lit(1)).alias("n_cand_capped"))
    g0 = true_pairs.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("caught")
    )
    g1 = true_pairs.join(candc, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("caught_capped")
    )
    return (
        n.crossJoin(F.broadcast(c0))
        .crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(g0))
        .crossJoin(F.broadcast(g1))
        .select(
            "n_true",
            "n_cand",
            "n_cand_capped",
            "caught",
            "caught_capped",
            F.expr(
                "CASE WHEN n_true = 0 THEN NULL"
                " ELSE (1000 * caught) div n_true END"
            ).alias("recall_permille"),
            F.expr(
                "CASE WHEN n_true = 0 THEN NULL"
                " ELSE (1000 * caught_capped) div n_true END"
            ).alias("recall_capped_permille"),
        )
    )


_W_HASH = h60_sql("w")
_SIMHASH_CTE = f"""
WITH base AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tok AS (SELECT doc_id, string_split(norm, ' ') AS t FROM base),
hs AS (SELECT doc_id, list_transform(t, w -> {_W_HASH}) AS h FROM tok),
s AS (SELECT doc_id, {simhash_sql('h', 16)} AS simhash FROM hs)
"""


@register(
    "dedup_simhash",
    oracle=f"""{_SIMHASH_CTE}
    SELECT doc_id, simhash FROM s
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: explode token hashes -> 16 map-side
    partial bit-vote sums -> assemble; one signature row per doc on the
    shuffle."""
    return simhash_table(catalog(spark, sf_dir).documents)


@register(
    "dedup_simhash_pairs",
    oracle=f"""{_SIMHASH_CTE},
    x AS (SELECT doc_id, simhash AS sh, simhash >> 8 AS hi, simhash & 255 AS lo FROM s)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM x a JOIN x b ON a.doc_id < b.doc_id AND (a.hi = b.hi OR a.lo = b.lo)
    WHERE bit_count(xor(a.sh, b.sh)) <= 1
    """,
    tags=("dedup", "simhash", "pairs"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 1) with pigeonhole half blocking:
    two narrow equi-joins instead of an O(n^2) scan."""
    return simhash_pairs(catalog(spark, sf_dir).documents)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""{_SHINGLE_CTE},
    {_SHX_MEMBER},
    shd AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM shx),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd
           GROUP BY doc_id),
    it AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM shd a JOIN shd b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT it.doc_a, it.doc_b,
           floor((it.i * 1.0 / (sa.n + sb.n - it.i)) * 10000.0 + 0.5)
             / 10000.0 AS jaccard
    FROM it JOIN sz sa ON sa.doc_id = it.doc_a
            JOIN sz sb ON sb.doc_id = it.doc_b
    WHERE floor((it.i * 1.0 / (sa.n + sb.n - it.i)) * 10000.0 + 0.5)
            / 10000.0 >= 0.05
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.05 over the whole corpus via an
    inverted-index similarity join (pairs sharing no shingle never
    materialize); finds the planted near-duplicates (max observed 0.989).
    The oracle is the same inverted-index algebra (shared-shingle counts
    + set sizes): EXACT at any threshold > 0, because a qualifying pair
    must share a shingle — the r6 rewrite after the naive all-pairs
    oracle form took >19 min of DuckDB time at sf0.1 (the engine side
    never did all-pairs; now neither engine does)."""
    return jaccard_pairs(catalog(spark, sf_dir).documents, threshold=0.05)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_similarity_sql('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE {cosine_similarity_sql('a.embedding', 'b.embedding')} >= 0.35
    """,
    tags=("dedup", "embedding", "pandas-udf"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (cosine >= 0.35) within label blocks —
    the semantic-dedup family. The verify stage is one dense matmul per
    block (cosine_pairs_dense; 8-10x the fold-expression join, output
    bit-identical and equality-pinned in tests)."""
    return cosine_pairs_dense(
        catalog(spark, sf_dir).embeddings, threshold=0.35, block_col="label"
    )


@register(
    "dedup_embedding_cosine_lsh",
    oracle=f"""
    WITH bk AS (
      SELECT vec_id, embedding, {lsh_bucket_sql('embedding', 4)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_similarity_sql('a.embedding', 'b.embedding')} AS cosine
    FROM bk a JOIN bk b
      ON a.vec_id < b.vec_id AND a.bucket = b.bucket
    WHERE {cosine_similarity_sql('a.embedding', 'b.embedding')} >= 0.35
    """,
    tags=("dedup", "embedding", "lsh", "pandas-udf"),
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with *content-derived* blocking: candidates
    share a random-hyperplane LSH bucket (4 planes -> 16 buckets) instead of
    a metadata label. This is the 100 TB semantic-dedup plan — blocking
    needs no labels, the self-join key is a content hash, and recall is
    tunable by plane count / multi-probe (a pair at cosine ``c`` collides
    with probability ``(1 - arccos(c)/pi)^4``; near-dups at c>0.9 collide
    >0.8 of the time, while the near-uniform fixture pairs at c~0.35-0.47
    collide ~0.13-0.2 — measured recall vs the exact all-pairs baseline is
    recorded in SCALING.md). Same verify kernel as
    ``dedup_embedding_cosine``; only the blocking differs."""
    emb = catalog(spark, sf_dir).embeddings
    bucketed = with_lsh_bucket(emb, n_planes=4)
    return cosine_pairs_dense(bucketed, threshold=0.35, block_col="bucket")


_INCR_THR = "(SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) FROM documents)"


@register(
    "dedup_incremental",
    oracle=f"""{_BANDS_CTE}
    SELECT b.doc_id AS doc_id, min(a.doc_id) AS earliest_dup,
           CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_dups
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < {_INCR_THR} AND b.doc_id >= {_INCR_THR}
    GROUP BY b.doc_id
    """,
    tags=("dedup", "minhash", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a new crawl increment (the
    last 20% of doc ids) checked against the *existing* corpus's banded
    MinHash index, returning each new doc's earliest duplicate and match
    count. At 100 TB this is the pattern that makes dedup affordable:
    signatures are computed only for the increment, the persisted band index
    is read (bucket-partitioned) rather than recomputed, and the join
    touches only co-bucketed keys — full-corpus reprocessing never happens.
    Here both sides derive from the fixture for verifiability; the split
    threshold is a bounded scalar (one max())."""
    docs = catalog(spark, sf_dir).documents
    thr = int(docs.agg(F.max("doc_id")).first()[0] * 0.8)
    index_bands = lsh_bands(minhash_table(docs.filter(F.col("doc_id") < thr)))
    new_bands = lsh_bands(minhash_table(docs.filter(F.col("doc_id") >= thr)))
    pairs = (
        new_bands.alias("n")
        .join(
            index_bands.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(F.col("n.doc_id").alias("doc_id"), F.col("o.doc_id").alias("dup"))
        .distinct()
    )
    return pairs.groupBy("doc_id").agg(
        F.min("dup").alias("earliest_dup"),
        F.count(F.lit(1)).alias("n_dups"),
    )


_QM = T.quality_metrics_sql("text")


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {h60_sql(_NORM)} AS text_hash, {_QM['quality']} AS q
      FROM documents
    ),
    r AS (
      SELECT text_hash, doc_id, q,
             row_number() OVER (PARTITION BY text_hash
                                ORDER BY q DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY text_hash) AS n
      FROM base
    )
    SELECT text_hash, CAST(n AS BIGINT) AS n_docs, doc_id AS best_doc,
           q AS best_quality
    FROM r WHERE rn = 1
    """,
    tags=("dedup", "exact", "quality"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization policy: within each exact-duplicate group keep the
    highest-*quality* copy (ties to the smallest id), not the smallest id —
    dedup composed with quality scoring, the way a training-data pipeline
    actually picks survivors. One shuffle on the 60-bit content hash; text
    itself never shuffles (quality is computed before the exchange)."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    base = docs.select(
        "doc_id",
        h60(T.normalize_text("text")).alias("text_hash"),
        T.quality_metrics(F.col("text"))["quality"].alias("best_quality"),
    )
    w = Window.partitionBy("text_hash").orderBy(
        F.desc("best_quality"), F.asc("doc_id")
    )
    wc = Window.partitionBy("text_hash")
    return (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "text_hash",
            "n_docs",
            F.col("doc_id").alias("best_doc"),
            "best_quality",
        )
    )


_BANDS_CTE_REC = _BANDS_CTE.replace("WITH base", "WITH RECURSIVE base", 1)


@register(
    "dedup_components",
    oracle=f"""{_BANDS_CTE_REC},
    pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
    sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    reach(node, lab) AS (
      SELECT u, v FROM sym UNION SELECT u, u FROM sym
      UNION
      SELECT r.node, s.v FROM reach r JOIN sym s ON r.lab = s.u
    )
    SELECT node, min(lab) AS component FROM reach GROUP BY node
    """,
    tags=("dedup", "graph", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH pair
    graph via iterative DataFrame min-label propagation — the step that
    turns pairwise candidates into dedup groups with one canonical keeper
    (= the component id, the minimum doc id). The oracle computes the same
    components with a recursive-CTE transitive closure — feasible at oracle
    scale, quadratic in the worst case, which is why the engine side
    iterates instead."""
    from ..operators.graph import connected_components

    pairs = lsh_candidate_pairs(catalog(spark, sf_dir).documents)
    return connected_components(pairs)


_CHUNK_TOKENS = 16
_SLOT_BASE = 1_000_000  # chunk_no < 1e6 by construction (docs are << 16M tokens)


@register(
    "dedup_span_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             pos // {_CHUNK_TOKENS} AS chunk_no,
             string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM toks GROUP BY doc_id, pos // {_CHUNK_TOKENS}
    ), keyed AS (
      SELECT doc_id, chunk_no,
             {h60_sql('chunk')} AS h,
             doc_id * {_SLOT_BASE} + chunk_no AS slot
      FROM chunks
    ), owned AS (
      SELECT doc_id,
             CASE WHEN slot = min(slot) OVER (PARTITION BY h)
                  THEN 0 ELSE 1 END AS is_dup
      FROM keyed
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks
    FROM owned GROUP BY doc_id
    """,
    tags=("dedup", "span", "sub-document"),
)
def dedup_span_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup: split every document into fixed 16-token
    chunks, hash each chunk, and mark every chunk whose exact content
    already occurs at an earlier (doc_id, chunk_no) slot — the
    paragraph/boilerplate-level pass (CCNet-style) that exact whole-doc
    dedup misses. Output is the per-document audit: chunk count and how
    many chunks are repeats of earlier spans.

    Scale: the chunk array is built per-row with one split() (the token
    array is a named projection, so Catalyst does not inline/recompute it
    per lambda element), and only (doc_id, chunk_no, h60) 24-byte tuples
    shuffle — raw text never leaves its scan partition, matching the
    dedup family's compact-key shuffle contract. The ownership pass is a
    single window over the 60-bit hash; the per-doc roll-up shuffles two
    ints per chunk."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    chunked = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(toks) / {_CHUNK_TOKENS}.0)) - 1),"
                f" i -> array_join(slice(toks, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}), ' '))"
            )
        ).alias("chunk_no", "chunk"),
    )
    keyed = chunked.select(
        "doc_id",
        "chunk_no",
        h60(F.col("chunk")).alias("h"),
        (F.col("doc_id") * _SLOT_BASE + F.col("chunk_no")).alias("slot"),
    )
    w = Window.partitionBy("h")
    owned = keyed.select(
        "doc_id",
        F.when(F.col("slot") == F.min("slot").over(w), 0).otherwise(1).alias("is_dup"),
    )
    return owned.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("is_dup").cast("long").alias("n_dup_chunks"),
    )


@register(
    "dedup_rate_by_source",
    oracle=f"""
    WITH f AS (SELECT source, {h60_sql(_NORM)} AS fp FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_rows
    FROM f GROUP BY source
    """,
    tags=("dedup", "dashboard", "quality"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate dashboard: per source, how many documents collapse
    under the exact content fingerprint — the first number a corpus triage
    looks at (a source with a high dup rate gets crawl-dedup attention
    before quality filtering). One scan; the distinct-count Expand shuffles
    (source, fp) pairs, never text."""
    docs = catalog(spark, sf_dir).documents
    fp = h60(T.normalize_text("text"))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_rows"),
        )
    )


_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN ma.mh{j} = mb.mh{j} THEN 1 ELSE 0 END)" for j in range(16)
)


@register(
    "minhash_jaccard_calibration",
    oracle=f"""{_BANDS_CTE},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b, {_EST_MATCH_SQL} AS est_matches16
      FROM cand c JOIN mh ma ON ma.doc_id = c.doc_a
                  JOIN mh mb ON mb.doc_id = c.doc_b
    ),
    {_SHX_MEMBER},
    shd AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM shx),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c JOIN shd x ON x.doc_id = c.doc_a
                  JOIN shd y ON y.doc_id = c.doc_b AND y.g = x.g
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b,
           CAST(e.est_matches16 AS BIGINT) AS est_matches16,
           CAST(COALESCE(i.i, 0) AS BIGINT) AS inter_sh,
           CAST(sa.n + sb.n - COALESCE(i.i, 0) AS BIGINT) AS union_sh
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    """,
    tags=("dedup", "minhash", "calibration", "sketch-accuracy"),
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit, value-hash-verified: for every LSH candidate
    pair, the MinHash ESTIMATE of Jaccard similarity (matching signature
    components out of 16 — E[est/16] = J by the MinHash property) next to
    the EXACT shingle-set Jaccard as integer (intersection, union) counts —
    no floats anywhere, so the calibration table is engine-exact. This is
    the query one runs before trusting a banding threshold on a new corpus:
    if est_matches16/16 systematically overshoots inter/union, the
    signature is too short for the shingle distribution. Exact counts join
    raw shingles for the CANDIDATE pairs only (candidate-bounded volume);
    the full-corpus exact path stays hashed (``dedup_ngram_jaccard``)."""
    docs = catalog(spark, sf_dir).documents
    # One signature computation serves both the LSH candidate join and the
    # estimate columns (lsh_candidate_pairs would recompute it): persist
    # the one-row-per-doc table.
    sig = persist(minhash_table(docs))
    banded = lsh_bands(sig, n_bands=4, rows_per_band=4)
    a_band, b_band = banded.alias("a"), banded.alias("b")
    cands = (
        a_band.join(
            b_band,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a_sig = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(16)],
    )
    b_sig = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(16)],
    )
    est_col = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(16)
    )
    est = (
        cands.join(a_sig, "doc_a").join(b_sig, "doc_b")
        .select("doc_a", "doc_b", est_col.alias("est_matches16"))
    )

    from ..operators.dedup import spread_small_scan

    # r12: ONE persisted doc-grain array of DISTINCT shingle keys replaces
    # the exploded (doc, g) DISTINCT posting table — the dedup happens
    # in-row (array_distinct), so the posting-grain DISTINCT exchange
    # disappears; sizes read off the array (size()) instead of a second
    # aggregation exchange over the postings; and the regex-heavy shingle
    # pass provably runs once (the un-persisted shd fed inter TWICE). The
    # left join + sizes joins stay: zero-common candidate pairs are part
    # of this query's output (a calibration table row per candidate).
    sha = persist(
        spread_small_scan(docs, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(shingle_key(F.col("text"))).alias("shs"),
        )
    )
    shd = sha.select("doc_id", F.explode("shs").alias("g"))
    sizes = sha.select("doc_id", F.size("shs").cast("long").alias("n"))
    inter = (
        cands.join(shd.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            shd.select(F.col("doc_id").alias("doc_b"), F.col("g")),
            ["doc_b", "g"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.col("est_matches16").cast("long").alias("est_matches16"),
            F.coalesce(F.col("i"), F.lit(0)).cast("long").alias("inter_sh"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
            .cast("long").alias("union_sh"),
        )
    )


@register(
    "dedup_edit_distance",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             substr({_NORM}, 1, 16) AS blk,
             substr({_NORM}, 1, 256) AS p
      FROM documents
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.p, c.p) AS BIGINT) AS edit_dist,
           a.n_chars AS len_a, c.n_chars AS len_b
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.p, c.p) <= 24
    """,
    tags=("dedup", "edit-distance", "levenshtein", "blocking"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixth dedup family: EDIT-DISTANCE near-duplicates — Levenshtein over
    the first 256 normalized chars, blocked on (lang, 16-char normalized
    prefix). The blocker bounds compute the way real fuzzy-join pipelines
    do: candidates must agree on the cheap prefix key (a self-join on a
    16-byte string, never all-pairs), then the O(256^2) DP refines — on
    the fixture the blocker admits exactly the 6 planted near-dup pairs,
    vs 6444 candidates for length-bucket blocking, a 1000x pruning at
    identical output. Recall trade is explicit and standard: a dup whose
    edit touches the first 16 normalized chars lands in a different block
    (the MinHash/SimHash families catch those — different invariant).
    ``normalize_text`` emits pure ASCII [a-z0-9 ], so Spark's
    codepoint-Levenshtein and DuckDB's byte-Levenshtein agree exactly —
    the oracle runs the identical join. At 100 TB: shuffle carries
    (block key, 256-char prefix) per doc, ~280 B/row; block sizes are
    prefix-cardinality-bounded, no hot key can exceed a boilerplate
    prefix's population (df-cap the blocker like the shingle df-cap if a
    corpus plants one)."""
    from ..operators.dedup import spread_small_scan

    docs = catalog(spark, sf_dir).documents
    norm = T.normalize_text("text")
    # r12: spread the (one-file at fixture SF) scan before the regex-heavy
    # normalize, and PERSIST the normalized base — the self-join otherwise
    # evaluates normalize_text over the whole corpus twice, once per
    # alias. The cached rows are ~280 B (key + 256-char prefix), far
    # cheaper to hold than to recompute.
    b = persist(
        spread_small_scan(docs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.substring(norm, 1, 16).alias("blk"),
            F.substring(norm, 1, 256).alias("p"),
        )
        # lp rides the cached row (r13): the length-band prune below then
        # costs one cached-int compare per candidate instead of a length()
        .withColumn("lp", F.length("p"))
    )
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p"), F.col("c.p"))
    # r13 candidate shrink (VERDICT r12 #10, guide §2.5): levenshtein(x, y)
    # >= |len(x) - len(y)|, so a pair whose 256-char prefixes differ in
    # length by more than the 24 threshold can NEVER pass dist <= 24 —
    # the band predicate is provably lossless and prunes candidates
    # BEFORE the O(256^2) DP runs. Ordering matters and was verified in
    # the compiled plan: `band & (dist <= 24)` in the FILTER lands the
    # band first in the join-residual conjuncts (short-circuit AND), so
    # blocked candidates pay two cached-int ops, not the DP; with the
    # band inside the join condition Catalyst put levenshtein first.
    band = F.abs(F.col("a.lp") - F.col("c.lp")) <= 24
    return (
        a.join(
            c,
            (F.col("a.lang") == F.col("c.lang"))
            & (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .filter(band & (dist <= 24))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_dist"),
            F.col("a.n_chars").alias("len_a"),
            F.col("c.n_chars").alias("len_b"),
        )
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""{_BANDS_CTE},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    {_SHX_MEMBER},
    shd AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM shx),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd
              GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
      FROM cand c JOIN shd x ON x.doc_id = c.doc_a
                  JOIN shd y ON y.doc_id = c.doc_b AND y.g = x.g
      GROUP BY c.doc_a, c.doc_b
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             COALESCE(i.i, 0) AS inter_sh, sa.n AS na, sb.n AS nb,
             (100 * COALESCE(i.i, 0)) // sa.n AS cont_a_pct,
             (100 * COALESCE(i.i, 0)) // sb.n AS cont_b_pct
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, inter_sh, na, nb,
           CAST(cont_a_pct AS BIGINT) AS cont_a_pct,
           CAST(cont_b_pct AS BIGINT) AS cont_b_pct,
           CASE WHEN greatest(cont_a_pct, cont_b_pct) >= 90
                THEN 1 ELSE 0 END AS subset_dup
    FROM scored
    """,
    tags=("dedup", "containment", "asymmetric"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT for LSH candidate pairs — the asymmetric dedup
    metric Jaccard misses: a short document fully embedded in a long one
    has low Jaccard (union is big) but containment |A∩B|/|A| ≈ 1, which is
    why production pipelines (the SlimPajama/RefinedWeb recipe) score both
    directions and flag ``max(cont_a, cont_b) >= 90%`` as a subset
    duplicate. Integer percent by truncating division — no floats. Same
    candidate-bounded shape as :func:`minhash_jaccard_calibration`: exact
    shingle joins run ONLY over LSH candidates, never all pairs; shingle
    sets shuffle as 8-byte grams keyed by doc."""
    from ..operators.dedup import spread_small_scan

    docs = catalog(spark, sf_dir).documents
    cands = lsh_candidate_pairs(docs)
    # r12: same move as minhash_jaccard_calibration — persist the doc-grain
    # DISTINCT shingle ARRAY (in-row array_distinct) instead of the exploded
    # (doc, g) posting table; the posting-grain DISTINCT exchange and the
    # sizes aggregation exchange both disappear, and the cached arrays are
    # strictly smaller than the postings they replace. Zero-common pairs
    # stay in the output, so the left join + sizes joins remain.
    sha = persist(
        spread_small_scan(docs, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(shingle_key(F.col("text"))).alias("shs"),
        )
    )
    shd = sha.select("doc_id", F.explode("shs").alias("g"))
    sizes = sha.select("doc_id", F.size("shs").cast("long").alias("n"))
    inter = (
        cands.join(shd.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(shd.select(F.col("doc_id").alias("doc_b"), "g"), ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("i"), F.lit(0)).alias("inter_sh"),
            "na",
            "nb",
            F.expr("(100 * coalesce(i, 0)) div na").alias("cont_a_pct"),
            F.expr("(100 * coalesce(i, 0)) div nb").alias("cont_b_pct"),
        )
    )
    return scored.withColumn(
        "subset_dup",
        F.when(
            F.greatest(F.col("cont_a_pct"), F.col("cont_b_pct")) >= 90, 1
        ).otherwise(0),
    )


# --------------------------------------- content-defined chunking (CDC)

_CDC_D = 16       # boundary after token t iff h60(t) % D == 0 -> ~16-token chunks
_CDC_DF_CAP = 16  # chunks present in more docs than this are stop-chunks
_CDC_MIN_PCT = 50  # report pairs where the smaller doc is >=50% covered


def _cdc_chunks_cte() -> str:
    h_tok = h60_sql("__t[i]")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS __t FROM documents
    ),
    b AS (
      SELECT doc_id, __t,
             list_sort(list_distinct(
               list_append(list_filter(range(1, len(__t) + 1),
                                       i -> {h_tok} % {_CDC_D} = 0),
                           len(__t))
             )) AS bnd
      FROM toks
    ),
    s AS (
      SELECT doc_id, __t, bnd,
             list_prepend(0, bnd[1:len(bnd) - 1]) AS starts
      FROM b
    ),
    ch AS (
      SELECT DISTINCT doc_id,
             {h60_sql("x.c")} AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(bnd) + 1),
                 k -> array_to_string(__t[starts[k] + 1 : bnd[k]], ' ')))
                 AS c
        FROM s
      ) x
    ),
    kept AS (
      SELECT h, doc_id FROM ch
      QUALIFY count(*) OVER (PARTITION BY h) <= {_CDC_DF_CAP}
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id
    )"""


@register(
    "dedup_cdc_chunk_pairs",
    oracle=f"""{_cdc_chunks_cte()},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST((100 * p.shared) // least(sa.n, sb.n) AS BIGINT)
             AS containment_pct
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE (100 * p.shared) // least(sa.n, sb.n) >= {_CDC_MIN_PCT}
    """,
    tags=("dedup", "cdc-chunking", "shift-robust", "llm-pipeline"),
)
def dedup_cdc_chunk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by CONTENT-DEFINED chunking — the rsync/LBFS
    boundary trick at token granularity: a chunk boundary falls after any
    token whose hash is 0 mod 16, so boundaries depend only on LOCAL
    content and an insertion/deletion re-chunks ONLY the chunk it touches
    — every other chunk hash survives the shift. Fixed-stride chunking
    (``dedup_span_chunks`` / ``text_chunks_overlapping``) loses all
    alignment after one inserted token; shingle MinHash recovers it
    probabilistically; CDC recovers it EXACTLY, which is why dedup
    storage and delta-sync systems use it. Reported: doc pairs where the
    smaller doc's distinct chunks are >= 50% shared.

    Scale shape: the boundary decision and chunk assembly are pure array
    expressions inside one scan (no explode until chunks are hashed);
    the shuffle carries (chunk_hash, doc_id) pairs — 16 B/row, text never
    moves; the pair join runs on an inverted index with a stop-chunk df
    cap (> 16 docs), the same hot-bucket guard the LSH band join uses,
    so one boilerplate chunk cannot emit a quadratic pair block. Window
    over chunk-hash groups is the df count itself — bounded by the cap
    at emission."""
    from pyspark.sql import Window

    from ..operators.dedup import cdc_chunks, spread_small_scan

    docs = catalog(spark, sf_dir).documents
    # r12: per-doc chunk-hash dedup happens IN-ROW (array_distinct over the
    # transformed chunk array) instead of a (doc, h)-grain DISTINCT
    # exchange, and the per-doc distinct-chunk count RIDES the postings to
    # reduce with the pair counts (max over a per-doc constant) — the
    # jaccard_pairs move; valid here because a zero-shared pair can never
    # reach the 50% containment floor, so the inner pair join already
    # holds every survivor. Removes the DISTINCT exchange, the sizes
    # aggregation, and two pair-grain joins. spread_small_scan unstarves
    # the chunk-build regex at fixture split counts.
    ch = persist(
        spread_small_scan(docs, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(cdc_chunks("text", _CDC_D), h60)
            ).alias("hs"),
        )
        .select(
            "doc_id",
            F.size("hs").cast("long").alias("n"),
            F.explode("hs").alias("h"),
        )
    )
    kept = ch.withColumn(
        "df_", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("df_") <= _CDC_DF_CAP).drop("df_")
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return (
        pairs.filter(
            F.expr(f"(100 * shared) div least(n_a, n_b) >= {_CDC_MIN_PCT}")
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_a",
            "n_b",
            F.expr("(100 * shared) div least(n_a, n_b)").alias(
                "containment_pct"
            ),
        )
    )


# -------------------------------------------------- exact-substring dedup

_ES_N = 16      # verbatim span length in tokens
_ES_DF_CAP = 64  # drop spans present in more than this many docs (boilerplate
                 # headers/footers at corpus scale; a no-op on the fixtures)


@register(
    "dedup_exact_substring_pairs",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    tok AS (SELECT doc_id, string_split(norm, ' ') AS t FROM base),
    th AS (
      SELECT doc_id, list_transform(t, __w -> {h60_sql('__w')}) AS h
      FROM tok WHERE len(t) >= {_ES_N}
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(h) - {_ES_N - 2}),
                            i -> {poly_window_key_sql('h', 'i', _ES_N)})
               AS hs
      FROM th
    ),
    p0 AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM g),
    p AS (
      SELECT doc_id, h FROM p0
      QUALIFY count(*) OVER (PARTITION BY h) <= {_ES_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_spans,
           CAST(count(*) + {_ES_N - 1} AS BIGINT) AS min_overlap_tokens
    FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("dedup", "exact-substring", "rolling-hash"),
)
def dedup_exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup (the suffix-array method's scalable
    approximation): document pairs sharing a VERBATIM run of >= 16
    tokens, found by hashing the 16-token window at EVERY offset and
    joining the inverted index — the method of record for removing
    memorization-inducing verbatim overlap from training corpora. The
    distinction from dedup_span_chunks is alignment: strided chunks miss
    any overlap that straddles a chunk boundary, while all-offset
    windows catch a shared span at ANY alignment (a shared run of L >=
    16 tokens contributes exactly L-15 shared window hashes, which is
    why n_shared_spans + 15 lower-bounds the contiguous overlap when the
    spans are consecutive). Shape (round-11 fast path, VERDICT r10 #5):
    each token is md5-hashed ONCE (h60), and every 16-token window is the
    dual 31-bit polynomial fold of its 16 token hashes — plain int64
    multiply/mod inside whole-stage codegen instead of one md5 over a
    freshly-concatenated ~100-byte window string per offset; the DuckDB
    twin replays the identical exact arithmetic (the xxhash64 route was
    proven bit-equal too but measured ~100x slower oracle-side — see
    operators/dedup.py).
    Postings are 16-byte (hash, doc) rows, distinct per doc, df-capped at
    64 so corpus-scale boilerplate (licence headers, navigation chrome)
    cannot quadratically explode a posting list — the same deterministic,
    oracle-replayable cap as the banded LSH join. Text itself never joins
    anything.

    The pair join is POSTING-ARRAY form (round 11): ONE shuffle of
    (h, doc) into sorted per-hash posting sets (the df-cap bounds each at
    64, so the arrays are 512 B worst-case), pairs enumerated by an array
    comprehension — this replaces the distinct + df-count window +
    self-join chain (three exchanges over the same rows) and measured
    4.8 -> 2.7 s median at sf0.1 together with the spread_small_scan
    parallelism fix. Output proven row-identical to the join form."""
    from ..operators.dedup import (
        shingle_key_of_token_hashes,
        spread_small_scan,
        token_hashes,
    )

    docs = spread_small_scan(catalog(spark, sf_dir).documents, "doc_id")
    # bind the normalize+tokenize subtree ONCE (the shingles_of_tokens
    # contract): the size guard and the window build read the same
    # token-hash array instead of re-running the regex normalizer per use
    toked = docs.select(
        "doc_id",
        token_hashes(T.tokens(T.normalize_text("text"))).alias("ths"),
    ).filter(F.size("ths") >= _ES_N)
    grams = toked.select(
        "doc_id", shingle_key_of_token_hashes(F.col("ths"), _ES_N).alias("gs")
    )
    p0 = grams.select("doc_id", F.explode("gs").alias("h"))
    posting = (
        p0.groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _ES_DF_CAP))
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared_spans",
            (F.col("n_shared_spans") + F.lit(_ES_N - 1)).alias(
                "min_overlap_tokens"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------- winnowing fingerprints
#
# MOSS-style document fingerprinting (Schleimer, Wilkerson, Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):
# hash every K-gram, slide a W-hash window, keep each window's MINIMUM
# hash. Guarantee: any shared run of >= W + K - 1 tokens shares at least
# one fingerprint, at ~2/(W+1) the posting volume of the all-offset index
# (dedup_exact_substring_pairs) — THE scalable exact-substring screen.
# K-gram identity is the round-11 dual polynomial window key; min-of-
# window selects the same fingerprint SET in both engines regardless of
# positional tie-breaks because the fingerprint IS the hash value.

_WN_K = 5   # k-gram length in tokens
_WN_W = 8   # winnowing window in k-grams; guarantee length = W + K - 1 = 12
_WN_DF_CAP = 64  # same boilerplate bound as the all-offset index


def _winnow_chain(tok_cte: str, p: str = "") -> str:
    """The winnow kernel's th -> gr -> wn CTE chain over a token CTE named
    ``tok_cte``, every CTE name prefixed with ``p``. ONE builder feeds both
    the registered queries' oracles (:func:`_winnow_cte`) and the recall
    audit's (:func:`_winnow_recall_oracle`) — a hand-copied variant could
    drift the audit oracle away from the registered kernel without any
    test tripping (ADVICE r11). ``{p}wn`` exposes (doc_id, fps, n_grams)."""
    from ..operators.dedup import poly_window_key_sql

    h_tok = h60_sql("__w")
    gram = poly_window_key_sql("__h", "i", _WN_K)
    return f"""
    {p}th AS (
      SELECT doc_id, list_transform(t, __w -> {h_tok}) AS __h
      FROM {tok_cte} WHERE len(t) >= {_WN_K}
    ),
    {p}gr AS (
      SELECT doc_id,
             list_transform(range(1, len(__h) - {_WN_K - 2}), i -> {gram}) AS gs
      FROM {p}th
    ),
    {p}wn AS (
      SELECT doc_id,
             CASE WHEN len(gs) >= {_WN_W}
                  THEN list_distinct(list_transform(
                         range(1, len(gs) - {_WN_W - 2}),
                         i -> list_min(gs[i:i+{_WN_W - 1}])))
                  ELSE [list_min(gs)] END AS fps,
             len(gs) AS n_grams
      FROM {p}gr
    )"""


def _winnow_cte() -> str:
    """doc_id -> winnowed fingerprint list (``fps``), mirroring the Spark
    kernel: token h60s -> K-gram poly keys -> per-window min -> distinct."""
    return f"""
    WITH tokw AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),{_winnow_chain("tokw")}"""


def _tokhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ths): per-token h60 arrays over the spread corpus scan —
    the ONE tokenize+hash pass shared by the winnow kernel and (inside
    :func:`winnow_recall_audit`) the all-offset truth rebuild."""
    from ..operators.dedup import spread_small_scan, token_hashes

    docs = spread_small_scan(catalog(spark, sf_dir).documents, "doc_id")
    return docs.select(
        "doc_id", token_hashes(T.tokens(T.normalize_text("text"))).alias("ths")
    )


def _winnow_frame_from(toked: DataFrame) -> DataFrame:
    """Winnow kernel over a prebuilt (doc_id, ths) frame."""
    from ..operators.dedup import shingle_key_of_token_hashes

    toked = toked.filter(F.size("ths") >= _WN_K)
    grams = toked.select(
        "doc_id", shingle_key_of_token_hashes(F.col("ths"), _WN_K).alias("gs")
    )

    def _winnow(gs: F.Column) -> F.Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(gs) - (_WN_W - 1)),
            lambda i: F.array_min(F.slice(gs, i, _WN_W)),
        )
        return F.when(
            F.size(gs) >= _WN_W, F.array_distinct(windows)
        ).otherwise(F.array(F.array_min(gs)))

    return grams.select(
        "doc_id",
        F.size("gs").alias("n_grams"),
        F.element_at(F.transform(F.array(F.col("gs")), _winnow), 1).alias("fps"),
    )


def _winnow_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of :func:`_winnow_cte`: (doc_id, n_grams, fps)."""
    return _winnow_frame_from(_tokhash_frame(spark, sf_dir))


def _posting_pairs(p0: DataFrame, cap: int) -> DataFrame:
    """(doc_id, h) postings -> (doc_a, doc_b, c) co-occurrence pairs via
    the round-11 posting-array form: ONE shuffle of postings into sorted
    per-hash doc sets (df-capped, so <= ``cap`` entries each), pairs
    enumerated by an array comprehension — replaces the distinct +
    df-count window + self-join chain (three exchanges over the same
    rows; proven row-identical for the substring family, same proof
    replayed for the winnow screen in tests/test_dedup_fastpath.py)."""
    posting = (
        p0.groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= cap))
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("c"))


@register(
    "text_winnow_fingerprints",
    oracle=f"""{_winnow_cte()}
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fps,
           CAST((1000 * len(fps)) // n_grams AS BIGINT) AS density_permille
    FROM wn
    """,
    tags=("text", "fingerprint", "winnowing", "dedup"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WINNOWING fingerprint profile (NEW round 11): k=5-gram
    poly keys, w=8 winnowing window, per-window min, distinct — the MOSS
    fingerprinting construction whose selected set is position-independent
    (the fingerprint is the hash value itself, so engines need no
    tie-break agreement). Emits the fingerprint DENSITY against the
    theoretical 2/(w+1) ≈ 222 permille — the number that says how much
    cheaper the winnowed index is than the all-offset one at equal
    guarantee (any shared run of >= w+k-1 = 12 tokens is caught).

    Scale shape: identical per-doc array pipeline to the substring query
    (scan spread, zero shuffle until the per-doc stats rows); the
    fingerprint build never leaves its scan task."""
    w = _winnow_frame(spark, sf_dir)
    return w.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size("fps").cast("long").alias("n_fps"),
        F.expr("(1000 * size(fps)) div n_grams").alias("density_permille"),
    )


@register(
    "dedup_winnow_pairs",
    oracle=f"""{_winnow_cte()},
    p0 AS (SELECT DISTINCT doc_id, unnest(fps) AS h FROM wn),
    p AS (
      SELECT doc_id, h FROM p0
      QUALIFY count(*) OVER (PARTITION BY h) <= {_WN_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_fps
    FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    ORDER BY 1, 2
    """,
    tags=("dedup", "fingerprint", "winnowing", "inverted-index"),
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowed fingerprints (NEW round 11) —
    the SCALABLE exact-substring screen: same guarantee class as the
    all-offset inverted index (any shared run of >= 12 tokens shares a
    fingerprint) at ~2/(w+1) ≈ 22% of the posting volume, which is why
    winnowing is the production method for plagiarism/memorization
    screens over web-scale corpora. Same df-cap discipline as
    dedup_exact_substring_pairs; candidates this screen surfaces are what
    the exact verify pass (n-gram Jaccard / containment) then scores.

    Shape: postings are 16-byte (fingerprint, doc) rows, distinct per
    doc, df-capped at 64; the pair join runs at fingerprint grain in
    posting-array form (ONE exchange — :func:`_posting_pairs`) and text
    never shuffles."""
    w = _winnow_frame(spark, sf_dir)
    p0 = w.select("doc_id", F.explode("fps").alias("h"))
    return (
        _posting_pairs(p0, _WN_DF_CAP)
        .withColumnRenamed("c", "n_shared_fps")
        .filter(F.col("n_shared_fps") >= 2)
        .orderBy("doc_a", "doc_b")
    )


def _winnow_recall_oracle() -> str:
    """Composite oracle: the all-offset substring truth and the winnowed
    screen at >=1 / >=2 shared fingerprints, reduced to one audit row.
    The winnow chain comes from the SAME builder as the registered
    queries' oracles (:func:`_winnow_chain`, prefixed ``wn_``) so the
    audit cannot drift from the kernel it scores (ADVICE r11); both
    kernels tokenize the shared ``tokb`` base."""
    from ..operators.dedup import poly_window_key_sql

    h_tok = h60_sql("__w")
    es_gram = poly_window_key_sql("h", "i", _ES_N)
    return f"""
    WITH tokb AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    es_th AS (
      SELECT doc_id, list_transform(t, __w -> {h_tok}) AS h
      FROM tokb WHERE len(t) >= {_ES_N}
    ),
    es_g AS (
      SELECT doc_id, list_transform(range(1, len(h) - {_ES_N - 2}),
                                    i -> {es_gram}) AS hs
      FROM es_th
    ),
    es_p0 AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM es_g),
    es_p AS (
      SELECT doc_id, h FROM es_p0
      QUALIFY count(*) OVER (PARTITION BY h) <= {_ES_DF_CAP}
    ),
    truth AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM es_p a JOIN es_p b ON a.h = b.h AND a.doc_id < b.doc_id
    ),{_winnow_chain("tokb", "wn_")},
    w_p0 AS (SELECT DISTINCT doc_id, unnest(fps) AS h FROM wn_wn),
    w_p AS (
      SELECT doc_id, h FROM w_p0
      QUALIFY count(*) OVER (PARTITION BY h) <= {_WN_DF_CAP}
    ),
    wpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS c
      FROM w_p a JOIN w_p b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
    s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_screen1 FROM wpairs),
    s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_screen2 FROM wpairs
           WHERE c >= 2),
    g1 AS (SELECT CAST(count(*) AS BIGINT) AS caught1 FROM truth t
           JOIN wpairs w ON w.doc_a = t.doc_a AND w.doc_b = t.doc_b),
    g2 AS (SELECT CAST(count(*) AS BIGINT) AS caught2 FROM truth t
           JOIN wpairs w ON w.doc_a = t.doc_a AND w.doc_b = t.doc_b
           WHERE w.c >= 2)
    SELECT n.n_true, s1.n_screen1, s2.n_screen2, g1.caught1, g2.caught2,
           CASE WHEN n.n_true = 0 THEN NULL
                ELSE CAST((1000 * g1.caught1) // n.n_true AS BIGINT)
           END AS recall1_permille,
           CASE WHEN n.n_true = 0 THEN NULL
                ELSE CAST((1000 * g2.caught2) // n.n_true AS BIGINT)
           END AS recall2_permille
    FROM n CROSS JOIN s1 CROSS JOIN s2 CROSS JOIN g1 CROSS JOIN g2
    """


@register(
    "winnow_recall_audit",
    oracle=_winnow_recall_oracle(),
    tags=("dedup", "winnowing", "recall-audit"),
)
def winnow_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the winnowed screen actually catches (NEW round 11) — the
    recall-audit discipline (lsh_cap_recall_audit, sim_recall_*_at_k)
    applied to the new fingerprint index: against the all-offset
    substring truth (pairs sharing any df-capped 16-token window), report
    the winnow screen's pair volume and catch rate at >= 1 and >= 2
    shared fingerprints. The winnowing GUARANTEE says any shared run of
    >= w+k-1 = 12 tokens shares >= 1 fingerprint, so recall@1 must be
    1000 permille unless the df-cap drops a hot fingerprint — publishing
    the audit keeps that cap trade honest; recall@2 prices the
    registered screen's stricter threshold. Shape: two bounded pair
    tables from df-capped posting joins, five 1-row counts assembled by
    broadcast cross joins (1-row sides).

    Cost (VERDICT r11 #3): the audit MUST recompute the all-offset truth
    — scoring the screen against it is its entire point — but it now
    shares ONE tokenize+hash pass between the truth and the screen
    (``toked`` persisted; the r11 form re-tokenized the corpus once per
    kernel) and enumerates both pair tables in posting-array form
    (:func:`_posting_pairs`, one exchange each instead of three)."""
    from ..operators.dedup import shingle_key_of_token_hashes

    toked = persist(_tokhash_frame(spark, sf_dir).filter(
        F.size("ths") >= _WN_K
    ))

    es_grams = toked.filter(F.size("ths") >= _ES_N).select(
        "doc_id", shingle_key_of_token_hashes(F.col("ths"), _ES_N).alias("gs")
    )
    truth = persist(_posting_pairs(
        es_grams.select("doc_id", F.explode("gs").alias("h")), _ES_DF_CAP
    ).select("doc_a", "doc_b"))

    w = _winnow_frame_from(toked)
    wpairs = persist(_posting_pairs(
        w.select("doc_id", F.explode("fps").alias("h")), _WN_DF_CAP
    ))
    n = truth.agg(F.count(F.lit(1)).alias("n_true"))
    s1 = wpairs.agg(F.count(F.lit(1)).alias("n_screen1"))
    s2 = wpairs.filter(F.col("c") >= 2).agg(F.count(F.lit(1)).alias("n_screen2"))
    g1 = truth.join(wpairs, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("caught1")
    )
    g2 = truth.join(
        wpairs.filter(F.col("c") >= 2), ["doc_a", "doc_b"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("caught2"))
    return (
        n.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(g1))
        .crossJoin(F.broadcast(g2))
        .select(
            "n_true",
            "n_screen1",
            "n_screen2",
            "caught1",
            "caught2",
            F.expr(
                "CASE WHEN n_true = 0 THEN NULL"
                " ELSE (1000 * caught1) div n_true END"
            ).alias("recall1_permille"),
            F.expr(
                "CASE WHEN n_true = 0 THEN NULL"
                " ELSE (1000 * caught2) div n_true END"
            ).alias("recall2_permille"),
        )
    )


@register(
    "corpus_remove_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             pos // {_CHUNK_TOKENS} AS chunk_no,
             string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM toks GROUP BY doc_id, pos // {_CHUNK_TOKENS}
    ), keyed AS (
      SELECT doc_id, chunk_no, chunk,
             {h60_sql('chunk')} AS h,
             doc_id * {_SLOT_BASE} + chunk_no AS slot
      FROM chunks
    ), owned AS (
      SELECT doc_id, chunk_no, chunk,
             CASE WHEN slot = min(slot) OVER (PARTITION BY h)
                  THEN 0 ELSE 1 END AS is_dup
      FROM keyed
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(1 - is_dup) AS BIGINT) AS n_kept,
             COALESCE(string_agg(CASE WHEN is_dup = 0 THEN chunk END,
                                 ' ' ORDER BY chunk_no), '') AS clean
      FROM owned GROUP BY doc_id
    )
    SELECT doc_id, n_chunks, n_kept, {h60_sql('clean')} AS clean_hash
    FROM agg
    """,
    tags=("dedup", "span", "sub-document", "transform", "boilerplate"),
)
def corpus_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup as a TRANSFORM, not an audit: rebuild every
    document with its duplicated 16-token spans removed — first occurrence
    (smallest (doc_id, chunk_no) slot) keeps the span, every later repeat
    is cut — the CCNet/RefinedWeb boilerplate-removal pass that actually
    ships a cleaned corpus rather than counting what ``dedup_span_chunks``
    counts. Output is the per-document ledger (chunk counts before/after)
    plus the 60-bit hash of the reconstructed text, which pins the rebuilt
    BYTES — order, spacing, and the all-spans-removed empty-doc edge
    (exact whole-doc duplicates reduce to an empty rebuild on both
    engines) — under the value hash.

    Scale shape: the keep/cut DECISION shuffles only 24-byte
    (doc_id, chunk_no, h60) tuples through one window over the span hash
    (same contract as the audit query); the kept text then moves exactly
    once, co-keyed on (doc_id, chunk_no), to its document's reassembly
    group — reconstruction cannot move less than the text it keeps. The
    per-doc collect is bounded by document size (the corpus's natural
    grain), never by corpus size."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    chunked = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(toks) / {_CHUNK_TOKENS}.0)) - 1),"
                f" i -> array_join(slice(toks, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}), ' '))"
            )
        ).alias("chunk_no", "chunk"),
    )
    keyed = chunked.select(
        "doc_id",
        "chunk_no",
        h60(F.col("chunk")).alias("h"),
        (F.col("doc_id") * _SLOT_BASE + F.col("chunk_no")).alias("slot"),
    )
    w = Window.partitionBy("h")
    flags = keyed.select(
        "doc_id",
        "chunk_no",
        F.when(F.col("slot") == F.min("slot").over(w), 0)
        .otherwise(1)
        .alias("is_dup"),
    )
    joined = chunked.join(flags, ["doc_id", "chunk_no"])
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(1 - F.col("is_dup")).cast("long").alias("n_kept"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN is_dup = 0 THEN"
                " struct(chunk_no, chunk) END)), x -> x.chunk)"
            ),
            " ",
        ).alias("clean"),
    )
    return agg.select(
        "doc_id", "n_chunks", "n_kept", h60(F.col("clean")).alias("clean_hash")
    )
