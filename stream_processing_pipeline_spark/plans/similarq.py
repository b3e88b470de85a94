"""Similarity-search query suite over ``embeddings`` (beyond-parity).

Brute-force exact top-k as the baseline, random-hyperplane LSH as the scale
path. Both oracle-verified: scores are bit-identical across engines (vector
kernels fold in DuckDB's order) and the LSH construction is deterministic
(hyperplanes seeded from the portable hash, inlined as literals on both
sides), so even the *approximate* result is reproducible and checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, cosine_similarity_sql
from ..operators.similarity import (
    lsh_bucket_sql,
    topk_bruteforce,
    topk_lsh,
    topk_lsh_multiprobe,
    with_lsh_bucket,
)
from ..session import persist
from .common import catalog
from .registry import register

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_K = 10
_N_PLANES = 4  # 16 buckets; ~n/16 candidates per probe

_COS = cosine_similarity_sql("c.embedding", "q.embedding")


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS} AS cosine,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
           ) AS INTEGER) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
    QUALIFY rank <= {_K}
    """,
    tags=("similarity", "brute-force"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for each query vector: broadcast query set x
    partitioned corpus -> ranked window. The exact baseline every ANN result
    is measured against."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = topk_bruteforce(emb, queries, k=_K)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "sim_lsh_buckets",
    oracle=f"""
    SELECT vec_id, label, {lsh_bucket_sql('embedding', _N_PLANES)} AS bucket
    FROM embeddings
    """,
    tags=("similarity", "lsh"),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment — the one-pass corpus
    partitioning that makes ANN probes bucket-local at 100 TB."""
    emb = catalog(spark, sf_dir).embeddings
    return with_lsh_bucket(emb, n_planes=_N_PLANES).select("vec_id", "label", "bucket")


@register(
    "sim_topk_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {lsh_bucket_sql('embedding', _N_PLANES)} AS bucket
      FROM embeddings
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS} AS cosine,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
           ) AS INTEGER) AS rank
    FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
    QUALIFY rank <= {_K}
    """,
    tags=("similarity", "lsh", "ann"),
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: candidates restricted to the query's LSH bucket
    (~1/16 of the corpus per probe at 4 planes). Deterministic construction
    -> verifiable against the same algorithm in SQL.

    Recall is data-dependent: the fixture embeddings are near-uniform (max
    pairwise cosine ~0.47), so bucket-collision probability for a pair at
    angle theta is (1 - theta/pi)^4 ~= 0.13 — measured top-10 recall ~0.10
    matches that theory. On real clustered embeddings (near-dup pairs at
    cosine > 0.9) collision probability is > 0.8; add multi-probe (flip one
    plane bit per probe) to push recall higher at the same index."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = topk_lsh(emb, queries, k=_K, n_planes=_N_PLANES)
    return out.withColumn("rank", F.col("rank").cast("int"))


_PROBE_MASKS = [0] + [1 << p for p in range(_N_PLANES)]


@register(
    "sim_topk_lsh_multiprobe",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {lsh_bucket_sql('embedding', _N_PLANES)} AS bucket
      FROM embeddings
    ),
    p AS (
      SELECT q.vec_id, q.embedding, xor(q.bucket, m.m) AS bucket
      FROM b q, (VALUES {', '.join(f'({m})' for m in _PROBE_MASKS)}) m(m)
      WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           {cosine_similarity_sql('c.embedding', 'p.embedding')} AS cosine,
           CAST(row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {cosine_similarity_sql('c.embedding', 'p.embedding')} DESC,
                      c.vec_id
           ) AS INTEGER) AS rank
    FROM p JOIN b c ON c.bucket = p.bucket AND c.vec_id != p.vec_id
    QUALIFY rank <= {_K}
    """,
    tags=("similarity", "lsh", "ann", "multi-probe"),
)
def sim_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-10: each query also probes the 4 buckets one
    plane-flip away (5/16 of the corpus scanned vs 1/16 single-probe),
    recovering the neighbors that landed just across one hyperplane — the
    recall/cost dial for hyperplane LSH. Deterministic construction, so the
    approximate result is still oracle-verified value-for-value."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = topk_lsh_multiprobe(emb, queries, k=_K, n_planes=_N_PLANES)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "sim_label_centroid_norms",
    oracle="""
    WITH ex AS (
      SELECT label, d,
             CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) AS x
      FROM embeddings, range(1, 65) t(d)
    ),
    dims AS (SELECT label, d, sum(x) AS s FROM ex GROUP BY label, d),
    sq AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS sq_sum FROM dims GROUP BY label),
    counts AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
    SELECT counts.label, n,
           floor(sqrt(CAST(sq_sum AS DOUBLE)) / 1000000.0 / n * 1000000.0 + 0.5)
             / 1000000.0 AS centroid_norm
    FROM counts JOIN sq ON counts.label = sq.label
    """,
    tags=("similarity", "aggregation"),
)
def sim_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid magnitude — the vector-aggregation pattern (the
    IVF coarse-quantizer training step): element-wise sums across a grouped
    vector column. Components are scaled to exact integer micro-units before
    summing, so the two-level distributed aggregation (per-dim, then across
    dims) is order-independent — floating sums would not be."""
    emb = catalog(spark, sf_dir).embeddings
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    ).select("label", "d", F.round(F.col("x") * 1000000).cast("long").alias("xs"))
    dims = ex.groupBy("label", "d").agg(F.sum("xs").alias("s"))
    per_label = dims.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("sq_sum")
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    from ..functions.rounding import pround

    return counts.join(per_label, "label").select(
        "label",
        "n",
        pround(F.sqrt("sq_sum") / 1000000.0 / F.col("n"), 6).alias("centroid_norm"),
    )


# ----------------------------------------------------- static-quantizer IVF

_K_STATIC = 8
_DIM = 64


def _static_cent(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """One bounded roundtrip per (session, fixture); the seeds are a fixed
    rule over the data, so recomputation is exact (cf. _trained_centroids)."""
    from ..operators.similarity import seed_centroids_int

    cat = catalog(spark, sf_dir)
    return cat.memo(
        "similarq.static_cent",
        lambda: seed_centroids_int(cat.embeddings, k=_K_STATIC),
    )


_VI = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> CAST(round(x * 1000000) AS BIGINT))"
)
_DIST2 = (
    f"CAST(list_sum(list_transform(range(1, {_DIM + 1}), "
    "i -> (vi[i] - cvec[i]) * (vi[i] - cvec[i]))) AS BIGINT)"
)

# Same seed rule as seed_centroids_int, in SQL: the k evenly-spaced corpus
# vectors, quantized; cid = vec_id // step.
_STATIC_ASSIGN_CTE = f"""
    WITH s AS (
      SELECT (max(vec_id) + 1) // {_K_STATIC} AS step FROM embeddings
    ),
    cent AS (
      SELECT CAST(vec_id // step AS INTEGER) AS cid, {_VI} AS cvec
      FROM embeddings, s
      WHERE vec_id % step = 0 AND vec_id // step < {_K_STATIC}
    ),
    q AS (SELECT vec_id, embedding, {_VI} AS vi FROM embeddings),
    d AS (
      SELECT q.vec_id, q.embedding, cent.cid, {_DIST2} AS dist2
      FROM q, cent
    )
"""


# Shared oracle tails: nearest-cell assignment, and the 2-probe top-k scan.
# Both the static (seed-quantizer) and trained (k-means) IVF oracles use
# these verbatim over their respective ``d`` CTE (vec_id, embedding, cid,
# dist2 vs that quantizer's centroids).
_ASSIGN_TAIL = """
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster, dist2
    FROM d
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1
"""


def _probe_topk_tail() -> str:
    return f""",
    ca AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1
    ),
    probes AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM d WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) <= 2
    )
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           {cosine_similarity_sql('c.embedding', 'p.embedding')} AS cosine,
           CAST(row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {cosine_similarity_sql('c.embedding', 'p.embedding')} DESC,
                      c.vec_id
           ) AS INTEGER) AS rank
    FROM probes p JOIN ca c ON c.cluster = p.cluster AND c.vec_id != p.vec_id
    QUALIFY rank <= {_K}
"""


@register(
    "sim_ivf_static_assignments",
    oracle=f"{_STATIC_ASSIGN_CTE}{_ASSIGN_TAIL}",
    tags=("similarity", "ivf", "static"),
)
def sim_ivf_static_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment under a *sampled-seed* coarse quantizer (the k
    evenly-spaced corpus vectors — k-means init without the Lloyd
    iterations) with exact integer micro-unit distances: the fully
    oracle-verified counterpart of ``sim_ivf_assignments``. No float
    fold-order, no iterative training, value-hash-checked end to end, and
    the cells are usably balanced because the seeds live on the data
    manifold (measured 47-75 per 500 on the fixture). Operationally this is
    the deployed shape: quantizer fixed offline, assignment is a single
    no-shuffle scan pass with centroids as plan literals."""
    from ..operators.similarity import assign_clusters_static

    emb = catalog(spark, sf_dir).embeddings
    return assign_clusters_static(emb, _static_cent(spark, sf_dir))


@register(
    "sim_topk_ivf_static",
    oracle=f"{_STATIC_ASSIGN_CTE}{_probe_topk_tail()}",
    tags=("similarity", "ivf", "static", "ann", "cogrouped-map"),
)
def sim_topk_ivf_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search over the sampled-seed quantizer: each query scans
    its 2 nearest cells (~1/4 of the corpus at k=8, cells balanced because
    seeds are corpus points) with exact cosine re-ranking inside —
    end-to-end ANN that is value-hash-verified, because every step (integer
    assignment distances, deterministic probe choice, dense-matmul re-rank
    bit-identical to the fold form under 1e-6 rounding) is
    engine-portable. The trained twin (``sim_topk_ivf``) shows what Lloyd
    iterations buy on top; both run the same :func:`topk_ivf` machinery —
    only the quantizer differs."""
    from ..operators.similarity import topk_ivf

    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return topk_ivf(emb, queries, _static_cent(spark, sf_dir), k=_K, n_probe=2)


@register(
    "sim_ivf_cell_balance",
    oracle=f"""{_STATIC_ASSIGN_CTE},
    ca AS (
      SELECT vec_id, cid FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1
    ),
    occ AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM ca GROUP BY cid)
    SELECT CAST(count(*) AS BIGINT) AS n_cells_used,
           CAST({_K_STATIC} - count(*) AS BIGINT) AS n_cells_empty,
           CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(min(n) AS BIGINT) AS min_occ,
           CAST(max(n) AS BIGINT) AS max_occ,
           CASE WHEN sum(n) = 0 THEN NULL
                ELSE CAST((1000 * max(n) * {_K_STATIC}) // sum(n) AS BIGINT)
           END AS imbalance_permille
    FROM occ
    """,
    tags=("similarity", "ivf", "static", "load-balance", "audit"),
)
def sim_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell LOAD-BALANCE audit — the number a deployment checks before
    trusting probe-cost estimates: an n_probe-cell scan costs ~n_probe/k of
    the corpus ONLY if cells are balanced; a hot cell (imbalance >> 1000
    permille, i.e. max_occ >> mean) makes every probe that touches it a
    straggler, the ANN-index analog of the hot LSH band. Reports cells
    used/empty, min/max occupancy, and max/mean in permille over the
    sampled-seed quantizer's assignment (the deployed static index). One
    aggregation to cell grain (k rows) then a 1-row rollup — the audit
    costs one assignment pass regardless of corpus size; empty-corpus
    denominator NULL-guarded identically in both engines."""
    from ..operators.similarity import assign_clusters_static

    emb = catalog(spark, sf_dir).embeddings
    occ = (
        assign_clusters_static(emb, _static_cent(spark, sf_dir))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return occ.agg(
        F.count(F.lit(1)).alias("n_cells_used"),
        (F.lit(_K_STATIC) - F.count(F.lit(1))).cast("long").alias(
            "n_cells_empty"
        ),
        F.sum("n").alias("n_vectors"),
        F.min("n").alias("min_occ"),
        F.max("n").alias("max_occ"),
        F.expr(
            f"CASE WHEN sum(n) = 0 THEN NULL"
            f" ELSE (1000 * max(n) * {_K_STATIC}) div sum(n) END"
        ).alias("imbalance_permille"),
    )


def _trained_centroids(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[int]]]:
    """Train once per (session, fixture) — k-means is deterministic, so the
    cached index is exactly what retraining would produce (at scale this is
    the persisted IVF index, trained offline and reused by every probe)."""
    from ..operators.similarity import kmeans_fit

    cat = catalog(spark, sf_dir)
    return cat.memo(
        "similarq.trained_centroids",
        lambda: kmeans_fit(cat.embeddings, k=_K_STATIC, iterations=3),
    )


def _kmeans_cte(k: int = _K_STATIC, iterations: int = 3) -> str:
    """The ENTIRE deterministic Lloyd training loop, unrolled as DuckDB CTEs
    — possible because :func:`..operators.similarity.kmeans_fit` is
    integer-exact at every step (micro-unit vectors, integer distances with
    ties to the smallest cluster id, floor-half-up integer-division centroid
    updates, empty cells keep their previous centroid). A fixed iteration
    count means no recursion is needed: each iteration is one
    assign→explode→sum→update block. Ends with ``d`` (vec_id, embedding,
    cid, dist2 vs the TRAINED centroids) so the probe/top-k tail is shared
    verbatim with the static-quantizer oracles."""
    # floor((2s + n) / (2n)) with exact floor semantics for negative sums
    # (DuckDB // truncates toward zero; force the numerator to an exact
    # multiple of the denominator first).
    num, den = "(2 * s + n)", "(2 * n)"
    fdiv = f"(({num} - (({num} % {den}) + {den}) % {den}) // {den})"
    parts = [
        f"q AS (SELECT vec_id, embedding, {_VI} AS vi FROM embeddings)",
        f"""c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             vi AS cvec
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id) <= {k}
    )""",
    ]
    prev = "c0"
    for i in range(1, iterations + 1):
        parts += [
            f"""a{i} AS (
      SELECT q.vec_id, q.vi, c.cid
      FROM q, {prev} c
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_DIST2}, c.cid) = 1
    )""",
            f"""u{i} AS (
      SELECT cid, d, CAST(sum(x) AS BIGINT) AS s, count(*) AS n
      FROM (SELECT cid, unnest(vi) AS x,
                   unnest(range(1, {_DIM + 1})) AS d FROM a{i})
      GROUP BY cid, d
    )""",
            f"""c{i} AS (
      SELECT p.cid, COALESCE(m.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(CAST({fdiv} AS BIGINT) ORDER BY d) AS cvec
        FROM u{i} GROUP BY cid
      ) m ON m.cid = p.cid
    )""",
        ]
        prev = f"c{i}"
    parts.append(
        f"""d AS (
      SELECT q.vec_id, q.embedding, c.cid, {_DIST2} AS dist2
      FROM q, {prev} c
    )"""
    )
    return "WITH " + ",\n    ".join(parts)


@register(
    "sim_ivf_assignments",
    oracle=f"{_kmeans_cte()}{_ASSIGN_TAIL}",
    tags=("similarity", "ivf", "iterative"),
)
def sim_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: deterministic distributed Lloyd's k-means
    (k=8, 3 iterations, integer-exact throughout) + nearest-centroid
    assignment of the corpus with exact integer micro-unit distances.

    Because training is integer-exact at every step, the oracle replays the
    ENTIRE training loop in SQL (unrolled CTEs) — the previously rows-only
    iterative pair is now value-hash-verified end to end, training
    included. Invariant tests (tests/test_ivf.py) still pin the semantic
    contract (assignments nearest, centroids are member means)."""
    from ..operators.similarity import assign_clusters_static

    emb = catalog(spark, sf_dir).embeddings
    return assign_clusters_static(emb, _trained_centroids(spark, sf_dir))


@register(
    "sim_topk_ivf",
    oracle=f"{_kmeans_cte()}{_probe_topk_tail()}",
    tags=("similarity", "ivf", "ann", "cogrouped-map"),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search over the TRAINED quantizer: each query scans its 2
    nearest cells (~1/4 of the corpus at k=8) with exact cosine re-ranking
    inside — the ANN pattern that scales past LSH when the corpus clusters
    well. Value-hash-verified end to end including the k-means training
    (see ``sim_ivf_assignments``); the static twin
    (``sim_topk_ivf_static``) shows the same probe machinery under a
    train-free quantizer."""
    from ..operators.similarity import topk_ivf

    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return topk_ivf(emb, queries, _trained_centroids(spark, sf_dir), k=_K, n_probe=2)


from ..functions.hashing import h60, h60_sql  # noqa: E402
from ..operators.similarity import int8_codes_sql_cte, topk_int8, with_int8_codes  # noqa: E402

_CODES_STR_SQL = "array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',')"


@register(
    "emb_int8_quantize",
    oracle=f"""
    WITH {int8_codes_sql_cte()}
    SELECT vec_id, label,
           CAST(list_min(codes) AS BIGINT) AS code_min,
           CAST(list_max(codes) AS BIGINT) AS code_max,
           CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS code_l1,
           {h60_sql(_CODES_STR_SQL)} AS code_hash
    FROM __codes
    """,
    tags=("similarity", "quantization"),
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding corpus —
    the 4x compression step (FAISS/Milvus SQ8 lineage) that makes
    billion-vector indexes fit in memory and turns distance kernels into
    integer ops. Scales = per-dim max|x| via one reduce pass (no shuffle,
    order-independent); codes = portable round-half-up, bit-identical across
    engines. Output pins every code exactly: min/max/L1 plus a 60-bit hash
    of the full code string per vector (arrays themselves stay out of the
    driver-gate contract)."""
    emb = catalog(spark, sf_dir).embeddings
    coded = with_int8_codes(emb)
    code_str = F.concat_ws(",", F.transform(F.col("codes"), lambda x: x.cast("string")))
    abs_sum = F.aggregate(
        F.col("codes"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    return coded.select(
        "vec_id",
        "label",
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        abs_sum.alias("code_l1"),
        h60(code_str).alias("code_hash"),
    )


@register(
    "sim_topk_int8",
    oracle=f"""
    WITH {int8_codes_sql_cte()}
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_dot_product(q.codes, c.codes) AS BIGINT) AS dot_int,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.codes, c.codes) DESC, c.vec_id
           ) AS INTEGER) AS rank
    FROM __codes q JOIN __codes c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
    QUALIFY rank <= {_K}
    """,
    tags=("similarity", "quantization", "ann"),
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors by integer dot product over int8 codes — the
    quantized search path. Scores are exact integer arithmetic (|dot| <=
    64 * 127^2, no float fold order anywhere), so even tie-breaks are
    deterministic and the approximate ranking is value-hash-verified against
    the identical construction in SQL. At scale the scan reads the 4x-smaller
    codes column only; queries broadcast as in the float baseline."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return topk_int8(emb, queries, k=_K)


from ..operators.text import quality_metrics_sql  # noqa: E402

_QUALITY_Q = quality_metrics_sql("text")["quality"]


@register(
    "retrieval_quality_topk",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, {_QUALITY_Q} AS quality
      FROM documents
    ),
    corpus AS (
      SELECT e.vec_id, e.embedding, q.quality
      FROM embeddings e JOIN q ON q.doc_id = e.vec_id
      WHERE q.quality >= 0.5
    )
    SELECT qv.vec_id AS query_id, c.vec_id AS neighbor_id, c.quality,
           {cosine_similarity_sql('c.embedding', 'qv.embedding')} AS cosine,
           CAST(row_number() OVER (
             PARTITION BY qv.vec_id
             ORDER BY {cosine_similarity_sql('c.embedding', 'qv.embedding')} DESC,
                      c.vec_id
           ) AS INTEGER) AS rank
    FROM embeddings qv JOIN corpus c ON c.vec_id != qv.vec_id
    WHERE qv.vec_id < {_N_QUERIES}
    QUALIFY rank <= 5
    """,
    tags=("similarity", "retrieval", "cross-table"),
)
def retrieval_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filtered retrieval: top-5 nearest embeddings per query, where
    candidates must pass the text-quality gate — the "find more examples like
    this, but only curation-grade ones" operation that links the text and
    vector halves of a training-data pipeline. The documents⋈embeddings join
    runs on aligned ids; the quality predicate prunes the candidate corpus
    BEFORE any distance math (at 100 TB: quality is a pushed parquet
    predicate on a precomputed column, so the ANN probe never touches
    rejected documents)."""
    from ..operators.text import quality_metrics

    cat = catalog(spark, sf_dir)
    quality = quality_metrics("text")["quality"]
    q = cat.documents.select("doc_id", quality.alias("quality"))
    corpus = (
        cat.embeddings.join(q, F.col("doc_id") == F.col("vec_id"))
        .filter(F.col("quality") >= 0.5)
        .select("vec_id", "embedding", "quality")
    )
    queries = cat.embeddings.filter(F.col("vec_id") < _N_QUERIES)
    out = topk_bruteforce(corpus, queries, k=5)
    # qual is corpus-grain (sf-proportional) — no broadcast hint; the
    # result side `out` is bounded (n_queries x k), so AQE broadcasts THAT.
    qual = corpus.select(F.col("vec_id").alias("neighbor_id"), "quality")
    return out.join(qual, "neighbor_id").select(
        "query_id", "neighbor_id", "quality", "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


_PQ_M, _PQ_K, _PQ_DSUB = 8, 16, 8  # 8 subspaces x 16 codewords over 64 dims

_PQ_CODE_COLS = ",\n           ".join(
    f"CAST(max(CASE WHEN j = {j} THEN cid END) AS INTEGER) AS code_{j}"
    for j in range(_PQ_M)
)


def _pq_books(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import pq_codebooks_int

    cat = catalog(spark, sf_dir)
    return cat.memo(
        "similarq.pq_books",
        lambda: pq_codebooks_int(cat.embeddings, m=_PQ_M, k=_PQ_K),
    )


@register(
    "sim_pq_codes",
    oracle=f"""
    WITH s AS (
      SELECT (max(vec_id) + 1) // {_PQ_K} AS step FROM embeddings
    ),
    cent AS (
      SELECT CAST(vec_id // step AS INTEGER) AS cid, {_VI} AS cvec
      FROM embeddings, s
      WHERE vec_id % step = 0 AND vec_id // step < {_PQ_K}
    ),
    q AS (SELECT vec_id, label, {_VI} AS vi FROM embeddings),
    d AS (
      SELECT q.vec_id, q.label, sub.j, cent.cid,
             list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (vi[sub.j * {_PQ_DSUB} + i] - cvec[sub.j * {_PQ_DSUB} + i])
                  * (vi[sub.j * {_PQ_DSUB} + i] - cvec[sub.j * {_PQ_DSUB} + i])))
               AS d2
      FROM q, cent, (SELECT unnest(range(0, {_PQ_M})) AS j) sub
    ),
    best AS (
      SELECT vec_id, label, j, cid, d2
      FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) = 1
    )
    SELECT vec_id, label,
           {_PQ_CODE_COLS},
           CAST(sum(d2) AS BIGINT) AS distortion
    FROM best GROUP BY vec_id, label
    """,
    tags=("similarity", "quantization", "pq", "static"),
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (IVF-PQ lineage): 64-dim vectors compress 32x
    into 8 codes of 4 bits (16-codeword codebook per 8-dim subspace), plus
    the total integer distortion. Codebooks are the sampled-seed rule (the
    k evenly-spaced corpus vectors, split per subspace) — a fixed function
    of the data, so the entire construction is SQL-expressible and
    value-hash verified, argmin tie-breaks included (exact integer
    micro-unit distances, min by (dist, codeword)). Scale shape: codebooks
    are plan literals (k*dim ints broadcast in the plan), assignment is one
    no-shuffle scan pass; at serving time the 8-byte codes column replaces
    the 256-byte float vectors for ADC distance scans."""
    from ..operators.similarity import with_pq_codes

    emb = catalog(spark, sf_dir).embeddings
    return with_pq_codes(emb, _pq_books(spark, sf_dir))


@register(
    "sim_topk_pq",
    oracle=f"""
    WITH s AS (
      SELECT (max(vec_id) + 1) // {_PQ_K} AS step FROM embeddings
    ),
    cent AS (
      SELECT CAST(vec_id // step AS INTEGER) AS cid, {_VI} AS cvec
      FROM embeddings, s
      WHERE vec_id % step = 0 AND vec_id // step < {_PQ_K}
    ),
    q AS (SELECT vec_id, {_VI} AS vi FROM embeddings),
    d AS (
      SELECT q.vec_id, sub.j, cent.cid,
             list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (vi[sub.j * {_PQ_DSUB} + i] - cvec[sub.j * {_PQ_DSUB} + i])
                  * (vi[sub.j * {_PQ_DSUB} + i] - cvec[sub.j * {_PQ_DSUB} + i])))
               AS d2
      FROM q, cent, (SELECT unnest(range(0, {_PQ_M})) AS j) sub
    ),
    codes AS (
      SELECT vec_id, j, cid FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) = 1
    ),
    qd AS (SELECT vec_id AS query_id, j, cid, d2 AS qdist FROM d
           WHERE vec_id < {_N_QUERIES})
    SELECT qd.query_id, c.vec_id AS neighbor_id,
           CAST(sum(qd.qdist) AS BIGINT) AS adc_dist,
           CAST(row_number() OVER (
             PARTITION BY qd.query_id ORDER BY sum(qd.qdist), c.vec_id
           ) AS INTEGER) AS rank
    FROM codes c JOIN qd ON qd.j = c.j AND qd.cid = c.cid
                        AND c.vec_id != qd.query_id
    GROUP BY qd.query_id, c.vec_id
    QUALIFY rank <= {_K}
    """,
    tags=("similarity", "quantization", "pq", "ann"),
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with asymmetric distance (ADC): exact integer query
    subvectors against the corpus's 8x4-bit codes — per candidate, 8
    lookup-table reads replace 64 multiplies, and the scan touches only the
    32x-compressed codes columns (the FAISS IVFADC serving pattern). The
    per-query LUTs inline as plan literals; nothing shuffles before the
    top-k ranking. Every distance, rank, and tie-break is integer-exact and
    verified against the identical construction in SQL."""
    from ..operators.similarity import topk_pq_adc

    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return topk_pq_adc(emb, queries, _pq_books(spark, sf_dir), k=_K)


# ------------------------------------------------------------------ IVF-PQ
#
# Residual product quantization under the static coarse quantizer (IVFADC).
# The shared CTE assigns every vector its coarse cell and residual, builds
# the 16 residual codewords from MID-STRIDE seeds (vec_id % step = step//2 —
# never a coarse seed, whose residual would be the zero vector), and codes
# every residual per subspace. All integer micro-unit arithmetic: both the
# encoding and the ADC probe verify value-hash-exact against this SQL.

_IVFPQ_CTE = f"""
    WITH s AS (
      SELECT (max(vec_id) + 1) // {_K_STATIC} AS step FROM embeddings
    ),
    cent AS (
      SELECT CAST(vec_id // step AS INTEGER) AS cid, {_VI} AS cvec
      FROM embeddings, s
      WHERE vec_id % step = 0 AND vec_id // step < {_K_STATIC}
    ),
    q AS (SELECT vec_id, {_VI} AS vi FROM embeddings),
    d AS (
      SELECT q.vec_id, q.vi, cent.cid, cent.cvec, {_DIST2} AS dist2
      FROM q, cent
    ),
    a AS (
      SELECT vec_id, vi, cid, cvec FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1
    ),
    res AS (
      SELECT vec_id, cid AS cell,
             list_transform(range(1, {_DIM + 1}), i -> vi[i] - cvec[i]) AS ri
      FROM a
    ),
    s2 AS (
      SELECT (max(vec_id) + 1) // {_PQ_K} AS step2 FROM embeddings
    ),
    sd AS (
      SELECT CAST(vec_id // step2 AS INTEGER) AS scid, vec_id AS svid
      FROM embeddings, s2
      WHERE vec_id % step2 = step2 // 2 AND vec_id // step2 < {_PQ_K}
    ),
    rb AS (
      SELECT sd.scid, res.ri AS rv FROM sd JOIN res ON res.vec_id = sd.svid
    ),
    cd AS (
      SELECT r.vec_id, r.cell, sub.j, rb.scid,
             list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (r.ri[sub.j * {_PQ_DSUB} + i] - rb.rv[sub.j * {_PQ_DSUB} + i])
                  * (r.ri[sub.j * {_PQ_DSUB} + i] - rb.rv[sub.j * {_PQ_DSUB} + i])))
               AS d2
      FROM res r, rb, (SELECT unnest(range(0, {_PQ_M})) AS j) sub
    ),
    codes AS (
      SELECT vec_id, cell, j, scid, d2 FROM cd
      QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, scid) = 1
    )
"""

_IVFPQ_CODE_COLS = ",\n           ".join(
    f"CAST(max(CASE WHEN j = {j} THEN scid END) AS INTEGER) AS code_{j}"
    for j in range(_PQ_M)
)


def _ivfpq_books(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import residual_codebooks_int

    cat = catalog(spark, sf_dir)
    return cat.memo(
        "similarq.ivfpq_books",
        lambda: residual_codebooks_int(
            cat.embeddings, _static_cent(spark, sf_dir), m=_PQ_M, k=_PQ_K
        ),
    )


@register(
    "sim_ivfpq_codes",
    oracle=f"""
    {_IVFPQ_CTE}
    SELECT vec_id, CAST(cell AS INTEGER) AS cluster,
           {_IVFPQ_CODE_COLS},
           CAST(sum(d2) AS BIGINT) AS distortion
    FROM codes GROUP BY vec_id, cell
    """,
    tags=("similarity", "quantization", "ivf-pq", "residual", "static"),
)
def sim_ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ encoding (IVFADC index build): coarse cell + residual PQ
    codes + integer distortion per vector, in one no-shuffle scan pass with
    centroids and codebooks as plan literals. Encoding the residual instead
    of the raw vector is what makes PQ usable under an IVF on real
    clustered embeddings — residual magnitudes shrink with cluster
    tightness, so the same 16-codeword books lose less. Honest fixture
    note: these near-uniform synthetic vectors have NO cluster structure,
    so coarse cells barely shrink residuals and measured mean distortion is
    ~1.4x plain PQ (``test_ivfpq_code_properties`` pins the measured
    ratio band rather than a win the fixture cannot show); the value being
    verified here is the construction itself. Every argmin and tie-break is
    integer micro-unit arithmetic, value-hash-verified against the
    identical SQL construction. Reference scope: the reference engine has
    no ANN surface at all (SURVEY.md §2) — this family is part of the
    beyond-parity LLM-pipeline suite."""
    from ..operators.similarity import with_ivfpq_codes

    emb = catalog(spark, sf_dir).embeddings
    out = with_ivfpq_codes(
        emb, _static_cent(spark, sf_dir), _ivfpq_books(spark, sf_dir)
    )
    return out.select(
        "vec_id", "cluster", *[f"code_{j}" for j in range(_PQ_M)], "distortion"
    )


@register(
    "sim_topk_ivfpq",
    oracle=f"""
    {_IVFPQ_CTE},
    qp AS (
      SELECT vec_id AS query_id, vi, cid AS cell, cvec
      FROM d WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) <= 2
    ),
    qres AS (
      SELECT query_id, cell,
             list_transform(range(1, {_DIM + 1}), i -> vi[i] - cvec[i]) AS qr
      FROM qp
    ),
    qd AS (
      SELECT q.query_id, q.cell, sub.j, rb.scid,
             list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (q.qr[sub.j * {_PQ_DSUB} + i] - rb.rv[sub.j * {_PQ_DSUB} + i])
                  * (q.qr[sub.j * {_PQ_DSUB} + i] - rb.rv[sub.j * {_PQ_DSUB} + i])))
               AS qdist
      FROM qres q, rb, (SELECT unnest(range(0, {_PQ_M})) AS j) sub
    )
    SELECT qd.query_id, c.vec_id AS neighbor_id,
           CAST(sum(qd.qdist) AS BIGINT) AS adc_dist,
           CAST(row_number() OVER (
             PARTITION BY qd.query_id ORDER BY sum(qd.qdist), c.vec_id
           ) AS INTEGER) AS rank
    FROM codes c JOIN qd ON qd.cell = c.cell AND qd.j = c.j AND qd.scid = c.scid
                        AND c.vec_id != qd.query_id
    GROUP BY qd.query_id, c.vec_id
    QUALIFY rank <= {_K}
    """,
    tags=("similarity", "quantization", "ivf-pq", "ann", "residual"),
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC serving — the full billion-scale ANN shape: the coarse probe
    prunes the scan to ~2/8 of the corpus (candidates join the broadcast
    per-(query, cell) LUT rows ON the cell id, so unprobed cells are never
    read), and within probed cells each candidate costs 8 lookup-table
    reads over its 32x-compressed residual codes instead of 64 float
    multiplies. At 100 TB the coded corpus is a persisted table partitioned
    by cell — the same file-listing-level pruning as the IVF-static index,
    but scanning nibbles, not vectors. Integer-exact end to end; ranks and
    ties verify against the same construction in SQL."""
    from ..operators.similarity import topk_ivfpq_adc

    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return topk_ivfpq_adc(
        emb,
        queries,
        _static_cent(spark, sf_dir),
        _ivfpq_books(spark, sf_dir),
        k=_K,
        n_probe=2,
    )


@register(
    "sim_recall_lsh_at_k",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {lsh_bucket_sql('embedding', _N_PLANES)} AS bucket
      FROM embeddings
    ),
    bf AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
      ) <= {_K}
    ),
    ls AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
      ) <= {_K}
    )
    SELECT bf.query_id,
           CAST(count(ls.neighbor_id) AS BIGINT) AS n_hits,
           count(ls.neighbor_id) / {_K}.0 AS recall_at_k
    FROM bf LEFT JOIN ls
      ON bf.query_id = ls.query_id AND bf.neighbor_id = ls.neighbor_id
    GROUP BY bf.query_id
    """,
    tags=("similarity", "lsh", "recall", "evaluation"),
)
def sim_recall_lsh_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a VERIFIED query: per-query recall@10 of the LSH probe
    against the exact brute-force baseline — the measurement SCALING.md
    reports, now value-hash-checked by the driver gate rather than quoted
    from a notebook. Both sides are the engine's own registered operators,
    so this also pins their relative consistency (deterministic LSH +
    deterministic tie-breaks = a reproducible recall number, engine to
    engine). The pattern is how an index rollout is validated at 100 TB:
    exact baseline on a sampled query set, candidate index over the full
    corpus, recall computed as a join — no collecting result sets to the
    driver."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    bf = topk_bruteforce(emb, queries, k=_K).select("query_id", "neighbor_id")
    ls = (
        topk_lsh(emb, queries, k=_K, n_planes=_N_PLANES)
        .select(
            F.col("query_id").alias("l_qid"), F.col("neighbor_id").alias("l_nid")
        )
    )
    joined = bf.join(
        ls,
        (bf.query_id == ls.l_qid) & (bf.neighbor_id == ls.l_nid),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("l_nid").alias("n_hits"),
        (F.count("l_nid") / float(_K)).alias("recall_at_k"),
    )


@register(
    "sim_recall_ivf_static_at_k",
    oracle=f"""{_STATIC_ASSIGN_CTE},
    ca AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1
    ),
    probes AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM d WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) <= 2
    ),
    iv AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN ca c ON c.cluster = p.cluster AND c.vec_id != p.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY p.vec_id
        ORDER BY {cosine_similarity_sql('c.embedding', 'p.embedding')} DESC,
                 c.vec_id
      ) <= {_K}
    ),
    bf AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
      ) <= {_K}
    )
    SELECT bf.query_id,
           CAST(count(iv.neighbor_id) AS BIGINT) AS n_hits,
           count(iv.neighbor_id) / {_K}.0 AS recall_at_k
    FROM bf LEFT JOIN iv
      ON bf.query_id = iv.query_id AND bf.neighbor_id = iv.neighbor_id
    GROUP BY bf.query_id
    """,
    tags=("similarity", "ivf", "static", "recall", "evaluation", "cogrouped-map"),
)
def sim_recall_ivf_static_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 2-probe static-quantizer IVF search against the
    exact baseline, per query — the second driver-verified index-quality
    number (cf. ``sim_recall_lsh_at_k``; SCALING.md's recall table quotes
    both). Composes two registered pipelines and reduces with a join, so
    the whole evaluation is value-hash-checked end to end."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    bf = topk_bruteforce(emb, queries, k=_K).select("query_id", "neighbor_id")
    # the registered probe pipeline verbatim (register() returns the fn)
    iv = sim_topk_ivf_static(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    joined = bf.join(
        iv, (bf.query_id == iv.i_qid) & (bf.neighbor_id == iv.i_nid), "left"
    )
    return joined.groupBy("query_id").agg(
        F.count("i_nid").alias("n_hits"),
        (F.count("i_nid") / float(_K)).alias("recall_at_k"),
    )


# ---------------------------------------------------- power-iteration PCA

_PCA_ITERS = 6
_PCA_WSCALE = 1024  # renormalize w to max-abs 1024 each iteration


def _pca_cte(iterations: int = _PCA_ITERS) -> str:
    """DuckDB replay of the integer power iteration, unrolled like
    ``_kmeans_cte``: milli-unit quantization, truncating-div mean centering,
    then per-iteration (dot = C·w, u = Cᵀ·dot, w' = trunc(u*1024 / max|u|))
    — every step integer arithmetic with TRUNCATING division (DuckDB's
    integer ``//`` and Spark's ``div`` both truncate toward zero; the
    driver-side renormalization reproduces it explicitly), so the
    eigenvector estimate is engine-exact."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so an
    # unrolled 6-iteration chain would re-expand c/d/u once per reference —
    # exponential plan growth (observed: >9 min vs ~4 s materialized).
    cte = """
    WITH m AS MATERIALIZED (
      SELECT vec_id, g.i - 1 AS j,
             CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS v
      FROM embeddings CROSS JOIN LATERAL
           (SELECT unnest(range(1, 65)) AS i) g
    ),
    mu AS MATERIALIZED (
      SELECT j, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
      FROM m GROUP BY j
    ),
    c AS MATERIALIZED (
      SELECT m.vec_id, m.j, m.v - mu.mu AS v FROM m JOIN mu USING (j)
    ),
    w0 AS MATERIALIZED (
      SELECT unnest(range(0, 64)) AS j, CAST(1 AS BIGINT) AS w)
    """
    for it in range(1, iterations + 1):
        p = it - 1
        cte += f""",
    d{it} AS MATERIALIZED (
      SELECT c.vec_id, sum(c.v * w{p}.w) AS dot
      FROM c JOIN w{p} ON w{p}.j = c.j GROUP BY c.vec_id
    ),
    u{it} AS MATERIALIZED (
      SELECT c.j, sum(c.v * d{it}.dot) AS u
      FROM c JOIN d{it} ON d{it}.vec_id = c.vec_id GROUP BY c.j
    ),
    w{it} AS MATERIALIZED (
      SELECT j, (u * {_PCA_WSCALE}) // (SELECT max(abs(u)) FROM u{it}) AS w
      FROM u{it}
    )"""
    return cte


@register(
    "emb_top_pc_power_iteration",
    oracle=f"""{_pca_cte()}
    SELECT j AS dim_idx, CAST(w AS BIGINT) AS w
    FROM w{_PCA_ITERS}
    """,
    tags=("similarity", "embedding", "pca", "iterative", "power-iteration"),
)
def emb_top_pc_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by SIX power
    iterations in exact integer arithmetic — the direction ABTT-style
    embedding post-processing ("all-but-the-top") removes, and the whitening
    diagnostic one computes before trusting cosine similarity on a new
    embedding table. Convergence honesty: the fixture embeddings are
    near-isotropic (lambda1/lambda2 = 1.013), so the DIRECTION converges at
    that snail ratio per step; what the iteration does guarantee — pinned by
    `tests` against numpy — is captured variance, Rayleigh quotient >= 0.9
    of lambda1 after 6 iterations (0.48 at the seed). On real embedding
    tables, where ABTT matters precisely because a few directions dominate,
    the same iterations converge in direction too. Same determinism recipe that made the trained-IVF
    k-means oracle-able: milli-unit quantization, truncating-div centering,
    and per-iteration renormalization of w to max-abs 1024 with explicit
    truncating division, so Spark and the DuckDB CTE replay agree bit-for-bit
    (sign is pinned by the fixed all-ones seed; no eigenvector sign
    ambiguity).

    Scale shape: the centered corpus is computed once and persisted
    exploded; each iteration is one matvec pair — (vec, dot) partials then
    64 per-dim sums shuffle, vectors never move — and a 64-int driver
    roundtrip for the renormalization (bounded like the k-means centroid
    roundtrip). Integer headroom: |c| <= ~1.1k milli-units, |dot| <= 7e7,
    per-dim sums <= N * 7.4e10 — int64-safe beyond 1e8 rows; past that,
    rescale c another 8x or switch the partial sums to decimal(38)."""
    emb = catalog(spark, sf_dir).embeddings
    m = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("j", "x"),
    ).select(
        "vec_id",
        F.col("j").cast("long").alias("j"),
        F.floor(F.col("x").cast("double") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("v"),
    )
    mu = m.groupBy("j").agg(
        F.expr("sum(v) div count(1)").cast("long").alias("mu")
    )
    c = persist(
        m.join(F.broadcast(mu), "j")
        .select("vec_id", "j", (F.col("v") - F.col("mu")).alias("v"))
    )

    w = [1] * 64
    for _ in range(_PCA_ITERS):
        w_df = F.broadcast(
            spark.createDataFrame([(j, wj) for j, wj in enumerate(w)], "j long, w long")
        )
        dot = (
            c.join(w_df, "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("v") * F.col("w")).alias("dot"))
        )
        u_rows = (
            c.join(dot, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("v") * F.col("dot")).alias("u"))
            .collect()  # 64 rows — bounded driver roundtrip
        )
        u = {r.j: r.u for r in u_rows}
        mx = max(abs(v) for v in u.values())

        def tdiv(a: int, b: int) -> int:
            # truncating division (DuckDB integer `//`, Spark `div`);
            # Python's // floors, so route through magnitudes.
            q = abs(a) // abs(b)
            return q if (a >= 0) == (b >= 0) else -q

        w = [tdiv(u[j] * _PCA_WSCALE, mx) for j in range(64)]

    return spark.createDataFrame(
        [(j, wj) for j, wj in enumerate(w)], "dim_idx long, w long"
    )


@register(
    "sim_recall_pq_at_k",
    oracle=f"""
    WITH s AS (
      SELECT (max(vec_id) + 1) // {_PQ_K} AS step FROM embeddings
    ),
    cent AS (
      SELECT CAST(vec_id // step AS INTEGER) AS cid, {_VI} AS cvec
      FROM embeddings, s
      WHERE vec_id % step = 0 AND vec_id // step < {_PQ_K}
    ),
    q AS (SELECT vec_id, {_VI} AS vi FROM embeddings),
    d AS (
      SELECT q.vec_id, sub.j, cent.cid,
             list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (vi[sub.j * {_PQ_DSUB} + i] - cvec[sub.j * {_PQ_DSUB} + i])
                  * (vi[sub.j * {_PQ_DSUB} + i] - cvec[sub.j * {_PQ_DSUB} + i])))
               AS d2
      FROM q, cent, (SELECT unnest(range(0, {_PQ_M})) AS j) sub
    ),
    codes AS (
      SELECT vec_id, j, cid FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) = 1
    ),
    qd AS (SELECT vec_id AS query_id, j, cid, d2 AS qdist FROM d
           WHERE vec_id < {_N_QUERIES}),
    pq AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id
      FROM codes c JOIN qd ON qd.j = c.j AND qd.cid = c.cid
                          AND c.vec_id != qd.query_id
      GROUP BY qd.query_id, c.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY qd.query_id ORDER BY sum(qd.qdist), c.vec_id
      ) <= {_K}
    ),
    bf AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
      ) <= {_K}
    )
    SELECT bf.query_id,
           CAST(count(pq.neighbor_id) AS BIGINT) AS n_hits,
           count(pq.neighbor_id) / {_K}.0 AS recall_at_k
    FROM bf LEFT JOIN pq
      ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
    GROUP BY bf.query_id
    """,
    tags=("similarity", "quantization", "pq", "recall", "evaluation"),
)
def sim_recall_pq_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of full-scan ADC over 32x-compressed PQ codes against the
    exact float baseline — the third index-quality number next to
    ``sim_recall_lsh_at_k`` and ``sim_recall_ivf_static_at_k``, isolating
    pure QUANTIZATION loss (PQ scans every code, so any miss is coding
    error, not candidate pruning — where the LSH/IVF numbers mix both).
    Composes two registered pipelines and reduces with a join; the whole
    evaluation is value-hash-checked end to end."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    bf = topk_bruteforce(emb, queries, k=_K).select("query_id", "neighbor_id")
    pq = sim_topk_pq(spark, sf_dir).select(
        F.col("query_id").alias("p_qid"), F.col("neighbor_id").alias("p_nid")
    )
    joined = bf.join(
        pq, (bf.query_id == pq.p_qid) & (bf.neighbor_id == pq.p_nid), "left"
    )
    return joined.groupBy("query_id").agg(
        F.count("p_nid").alias("n_hits"),
        (F.count("p_nid") / float(_K)).alias("recall_at_k"),
    )


@register(
    "sim_recall_int8_at_k",
    oracle=f"""
    WITH {int8_codes_sql_cte()},
    i8 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM __codes q JOIN __codes c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_dot_product(q.codes, c.codes) DESC, c.vec_id
      ) <= {_K}
    ),
    bf AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
      ) <= {_K}
    )
    SELECT bf.query_id,
           CAST(count(i8.neighbor_id) AS BIGINT) AS n_hits,
           count(i8.neighbor_id) / {_K}.0 AS recall_at_k
    FROM bf LEFT JOIN i8
      ON bf.query_id = i8.query_id AND bf.neighbor_id = i8.neighbor_id
    GROUP BY bf.query_id
    """,
    tags=("similarity", "quantization", "int8", "recall", "evaluation"),
)
def sim_recall_int8_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8 scalar-quantized scan against the exact float
    baseline — the FOURTH index-quality number, completing the audit
    family (LSH = pruning loss, IVF = pruning loss, PQ = 32x coding loss,
    int8 = 4x coding loss). SQ8 scans every code like PQ does, so any miss
    here is pure scalar-quantization error; the expected reading is
    near-1.0 recall at 4x compression vs PQ's drop at 32x — the
    compression/recall trade a serving team actually chooses on. Composes
    two registered pipelines (brute-force float top-k, integer-dot int8
    top-k) and reduces with one bounded join over query x k rows; the
    whole evaluation is value-hash-checked end to end."""
    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    bf = topk_bruteforce(emb, queries, k=_K).select("query_id", "neighbor_id")
    i8 = sim_topk_int8(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    joined = bf.join(
        i8, (bf.query_id == i8.i_qid) & (bf.neighbor_id == i8.i_nid), "left"
    )
    return joined.groupBy("query_id").agg(
        F.count("i_nid").alias("n_hits"),
        (F.count("i_nid") / float(_K)).alias("recall_at_k"),
    )


# --------------------------------------------------- margin-based mining

from ..functions.rounding import pround_sql as _pround_sql_fn

_pround_sql_cos6 = _pround_sql_fn("cos", 6)

_MINE_N = 100          # query-side cap (vec_id < _MINE_N among label < 5)
_MINE_BEST = 0.32      # accept: best cosine at least this...
_MINE_MARGIN = 0.024   # ...and ahead of the runner-up by at least this


@register(
    "sim_margin_mined_pairs",
    oracle=f"""
    WITH a AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE label < 5 AND vec_id < {_MINE_N}
    ),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE label >= 5),
    s AS (
      SELECT a.vec_id AS query_id, b.vec_id AS nid,
             {cosine_similarity_sql('a.embedding', 'b.embedding')} AS cos
      FROM a, b
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, nid
      ) AS rn FROM s
    ),
    t AS (
      SELECT query_id,
             max(CASE WHEN rn = 1 THEN nid END) AS neighbor_id,
             max(CASE WHEN rn = 1 THEN {{p1}} END) AS best_cos,
             max(CASE WHEN rn = 2 THEN {{p1}} END) AS second_cos
      FROM r WHERE rn <= 2 GROUP BY query_id
    )
    SELECT query_id, neighbor_id, best_cos,
           best_cos - second_cos AS margin,
           CAST(CASE WHEN best_cos >= {_MINE_BEST}
                      AND best_cos - second_cos >= {_MINE_MARGIN}
                     THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM t
    """.replace("{p1}", _pround_sql_cos6),
    tags=("similarity", "mining", "margin", "bitext"),
)
def sim_margin_mined_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair mining (the Artetxe-Schwenk bitext-mining
    decision rule, absolute-margin variant): for each query vector in one
    partition of the corpus, its best match in the OTHER partition is
    accepted only when the best cosine clears a floor AND leads the
    runner-up by a margin — the criterion that separates true aligned
    pairs from dense-region noise where everything is mildly similar
    (label-parity halves stand in for the two languages of parallel-corpus
    mining). Shape: the bounded query side broadcasts against the corpus
    partition (the sim_topk_bruteforce contract — corpus never shuffles),
    one window picks best and runner-up per query, and the margin is
    computed on identically-rounded values so the accept bit is
    engine-exact. At 100 TB the same rule composes with the IVF/PQ
    candidate paths: mine within probed cells, margin-test against the
    cell's runner-up."""
    from pyspark.sql import Window

    from ..functions.rounding import pround

    emb = catalog(spark, sf_dir).embeddings
    a = emb.filter((F.col("label") < 5) & (F.col("vec_id") < _MINE_N)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    b = emb.filter(F.col("label") >= 5).select(
        F.col("vec_id").alias("nid"), "embedding"
    )
    s = F.broadcast(a).crossJoin(b).select(
        "query_id", "nid", cosine_similarity("qe", "embedding").alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "nid")
    r = s.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    t = r.groupBy("query_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("nid"))).alias("neighbor_id"),
        F.max(F.when(F.col("rn") == 1, pround(F.col("cos"), 6))).alias("best_cos"),
        F.max(F.when(F.col("rn") == 2, pround(F.col("cos"), 6))).alias("second_cos"),
    )
    margin = F.col("best_cos") - F.col("second_cos")
    return t.select(
        "query_id",
        "neighbor_id",
        "best_cos",
        margin.alias("margin"),
        (
            (F.col("best_cos") >= _MINE_BEST) & (margin >= _MINE_MARGIN)
        ).cast("long").alias("accepted"),
    )


# ----------------------------------------- JL random-projection fidelity

_JL_DIM = 64    # source embedding dimension
_JL_K = 16      # projected dimension (4x compression)
_JL_SAMPLE = 64  # bounded pair-sample: vec_id < 64 -> C(64,2) = 2016 pairs


def _jl_planes() -> list[list[float]]:
    """Deterministic ±1 Rademacher projection rows (Achlioptas' JL
    construction), seeded from the portable hash so the literal matrix is
    identical on both engines."""
    from ..operators.similarity import _h60_py

    return [
        [1.0 if _h60_py(f"jl:{j}:{i}") % 2 else -1.0 for i in range(_JL_DIM)]
        for j in range(_JL_K)
    ]


def _jl_oracle() -> str:
    from ..operators.similarity import hyperplane_sql_literal

    proj = ", ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{hyperplane_sql_literal(row)})"
        for row in _jl_planes()
    )
    return f"""
    WITH p AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, [{proj}] AS proj
      FROM embeddings WHERE vec_id < {_JL_SAMPLE}
    ),
    pairs AS (
      SELECT
        list_dot_product(
          list_transform(range(1, {_JL_K} + 1), j -> a.proj[j] - b.proj[j]),
          list_transform(range(1, {_JL_K} + 1), j -> a.proj[j] - b.proj[j])
        ) AS dp2,
        list_dot_product(
          list_transform(range(1, {_JL_DIM} + 1), i -> a.e[i] - b.e[i]),
          list_transform(range(1, {_JL_DIM} + 1), i -> a.e[i] - b.e[i])
        ) AS df2
      FROM p a JOIN p b ON a.vec_id < b.vec_id
    ),
    r AS (
      SELECT CAST(round(1000000 * dp2 / ({_JL_K} * df2)) AS BIGINT)
               AS ratio_micro
      FROM pairs
    )
    SELECT ratio_micro // 100000 AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(ratio_micro) AS min_ratio_micro,
           max(ratio_micro) AS max_ratio_micro
    FROM r GROUP BY 1 ORDER BY 1
    """


@register(
    "emb_jl_distance_fidelity",
    oracle=_jl_oracle(),
    tags=("similarity", "jl-projection", "compression", "audit"),
)
def emb_jl_distance_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection fidelity audit: project embeddings
    64d -> 16d with a deterministic ±1 Rademacher matrix and histogram the
    per-pair squared-distance distortion ``d_proj² / (k · d_full²)``
    (expectation exactly 1 for this construction) over a bounded pair
    sample — the measurement that tells you whether 4x-compressed vectors
    are still safe for range queries and clustering before committing the
    corpus to the cheaper representation. Distortion is snapped to integer
    micro-units per pair (identical left-to-right double folds in both
    engines), then aggregated purely in integers — the same cross-engine
    float discipline as emb_matryoshka_fidelity, extended to the audit
    grain. Scale shape: projection is a per-row map (16 fused dot-folds
    inside codegen, no shuffle — at 100 TB it's the cheap pass that
    rewrites the corpus); the audit joins only the vec_id<64 sample with
    both sides bounded by construction."""
    from ..functions.vectors import dot_product
    from ..operators.similarity import _plane_col

    emb = catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") < _JL_SAMPLE)
    projd = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        F.array(
            *[dot_product("embedding", _plane_col(row)) for row in _jl_planes()]
        ).alias("proj"),
    )
    a = projd.select(
        F.col("vec_id").alias("ida"), F.col("e").alias("ea"), F.col("proj").alias("pa")
    )
    b = projd.select(
        F.col("vec_id").alias("idb"), F.col("e").alias("eb"), F.col("proj").alias("pb")
    )

    def sqdist(x, y):
        diffsq = F.zip_with(F.col(x), F.col(y), lambda u, v: (u - v) * (u - v))
        return F.aggregate(diffsq, F.lit(0.0), lambda acc, t: acc + t)

    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        sqdist("pa", "pb").alias("dp2"), sqdist("ea", "eb").alias("df2")
    )
    r = pairs.select(
        F.round(1000000 * F.col("dp2") / (_JL_K * F.col("df2")))
        .cast("long")
        .alias("ratio_micro")
    )
    return (
        r.groupBy(F.expr("ratio_micro div 100000").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("ratio_micro").alias("min_ratio_micro"),
            F.max("ratio_micro").alias("max_ratio_micro"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------ reciprocal-rank fusion

_RRF_K0 = 60  # the standard RRF smoothing constant (Cormack et al.)


@register(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH {int8_codes_sql_cte()},
    br AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
             ) AS INTEGER) AS rnk
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY rnk <= {_K}
    ),
    i8 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_dot_product(q.codes, c.codes) DESC, c.vec_id
             ) AS INTEGER) AS rnk
      FROM __codes q JOIN __codes c ON c.vec_id != q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
      QUALIFY rnk <= {_K}
    ),
    u AS (
      SELECT coalesce(br.query_id, i8.query_id) AS query_id,
             coalesce(br.neighbor_id, i8.neighbor_id) AS neighbor_id,
             br.rnk AS r_exact, i8.rnk AS r_int8
      FROM br FULL OUTER JOIN i8
        ON br.query_id = i8.query_id AND br.neighbor_id = i8.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(coalesce(1000000 // ({_RRF_K0} + r_exact), 0)
              + coalesce(1000000 // ({_RRF_K0} + r_int8), 0) AS BIGINT)
             AS rrf_micro,
           CAST((CASE WHEN r_exact IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN r_int8 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS n_channels,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY
               coalesce(1000000 // ({_RRF_K0} + r_exact), 0)
             + coalesce(1000000 // ({_RRF_K0} + r_int8), 0) DESC, neighbor_id
           ) AS INTEGER) AS fused_rank
    FROM u
    QUALIFY fused_rank <= {_K}
    ORDER BY query_id, fused_rank
    """,
    tags=("similarity", "retrieval", "fusion", "rank-aggregation"),
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-RANK FUSION of two retrieval channels — the standard
    rank-aggregation step of every hybrid retrieval stack (RRF, Cormack
    et al. 2009: score = sum over channels of 1/(60 + rank) — robust to
    incomparable score scales because only RANKS enter). Channels here:
    the exact float-cosine top-10 and the int8-quantized integer-dot
    top-10 (the two search paths a production index serves — fused, a
    quantization-induced miss in one channel is rescued by the other).
    Scores are exact integers (micro-units, integer division — both
    engines truncate positives identically), so fused ranks and
    tie-breaks are deterministic and fully value-hash-verified. Scale
    shape: each channel is the already-audited broadcast-queries x
    corpus scan; the fusion itself joins two (n_queries x k) frames —
    bounded regardless of corpus size."""
    from pyspark.sql import Window

    from ..operators.similarity import topk_bruteforce, topk_int8

    emb = catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    br = topk_bruteforce(emb, queries, k=_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_exact")
    )
    i8 = topk_int8(emb, queries, k=_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_int8")
    )
    u = br.join(i8, ["query_id", "neighbor_id"], "full_outer")
    score = F.coalesce(
        F.expr(f"1000000 div ({_RRF_K0} + r_exact)"), F.lit(0).cast("long")
    ) + F.coalesce(
        F.expr(f"1000000 div ({_RRF_K0} + r_int8)"), F.lit(0).cast("long")
    )
    chans = (
        F.when(F.col("r_exact").isNotNull(), 1).otherwise(0)
        + F.when(F.col("r_int8").isNotNull(), 1).otherwise(0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), "neighbor_id"
    )
    return (
        u.select(
            "query_id",
            "neighbor_id",
            score.cast("long").alias("rrf_micro"),
            chans.cast("int").alias("n_channels"),
        )
        .withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= _K)
        .orderBy("query_id", "fused_rank")
    )


# ------------------------------------------------- two-stage IVFADC + rerank

_RERANK_R = 30  # ADC shortlist size feeding the exact second stage

_EXACT_D2_SQL = (
    f"list_sum(list_transform(range(1, {_DIM + 1}), "
    "i -> (a.vi[i] - b.vi[i]) * (a.vi[i] - b.vi[i])))"
)

# Shared probe fragment (the sim_topk_ivfpq construction as named CTEs):
# per query, the 2 probed cells, the query's residual, and its per-
# (cell, subspace, codeword) LUT distances. Reused by the rerank oracle
# and the rerank recall audit.
_IVFPQ_PROBE_SQL = f"""
    qp AS (
      SELECT vec_id AS query_id, vi, cid AS cell, cvec
      FROM d WHERE vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) <= 2
    ),
    qres AS (
      SELECT query_id, cell,
             list_transform(range(1, {_DIM + 1}), i -> vi[i] - cvec[i]) AS qr
      FROM qp
    ),
    qd AS (
      SELECT q.query_id, q.cell, sub.j, rb.scid,
             list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (q.qr[sub.j * {_PQ_DSUB} + i] - rb.rv[sub.j * {_PQ_DSUB} + i])
                  * (q.qr[sub.j * {_PQ_DSUB} + i] - rb.rv[sub.j * {_PQ_DSUB} + i])))
               AS qdist
      FROM qres q, rb, (SELECT unnest(range(0, {_PQ_M})) AS j) sub
    )"""


def _ivfpq_adc_rank_sql(limit: int, name: str) -> str:
    """CTE ``name``: the ADC candidate ranking cut at ``limit``."""
    return f"""
    {name} AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id
      FROM codes c JOIN qd ON qd.cell = c.cell AND qd.j = c.j AND qd.scid = c.scid
                          AND c.vec_id != qd.query_id
      GROUP BY qd.query_id, c.vec_id
      QUALIFY row_number() OVER (
        PARTITION BY qd.query_id ORDER BY sum(qd.qdist), c.vec_id
      ) <= {limit}
    )"""


_IVFPQ_RERANK_SQL = f"""{_IVFPQ_CTE},
    {_IVFPQ_PROBE_SQL},
    {_ivfpq_adc_rank_sql(_RERANK_R, 'shortl')},
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             CAST({_EXACT_D2_SQL} AS BIGINT) AS exact_d2
      FROM shortl s JOIN q a ON a.vec_id = s.query_id
                    JOIN q b ON b.vec_id = s.neighbor_id
    ),
    reranked AS (
      SELECT query_id, neighbor_id, exact_d2,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY exact_d2, neighbor_id
             ) AS INTEGER) AS rank
      FROM scored
    )"""


@register(
    "sim_topk_ivfpq_rerank",
    oracle=f"""
    {_IVFPQ_RERANK_SQL}
    SELECT query_id, neighbor_id, exact_d2, rank
    FROM reranked WHERE rank <= {_K}
    """,
    tags=("similarity", "quantization", "ivf-pq", "ann", "rerank",
          "two-stage"),
)
def sim_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval — the production serving shape FAISS calls
    IVFADC+refine: the compressed index proposes, exact vectors decide.
    Stage 1 runs the ``sim_topk_ivfpq`` probe with a 3x-overfetched
    shortlist (R=30 per query); stage 2 fetches ONLY the shortlisted
    candidates' full vectors (a semi-join against the corpus — at 100 TB
    this reads R*Q rows, never a cell scan, let alone the corpus) and
    re-orders by exact integer micro-unit squared L2, the same metric the
    ADC stage approximates. This is what buys back PQ's quantization
    error: ADC rank inversions inside the shortlist are corrected at the
    cost of R exact distances per query, and recall@k against the exact
    baseline becomes a function of shortlist size alone. Integer-exact
    end to end (micro-unit vectors, |d|^2 <= 64*(4e6)^2 < 2^53), ranks
    and ties verified against the identical two-stage construction in
    SQL. One persisted quantized corpus serves the probe encode and both
    rerank joins (the embedding parquet is scanned once, not three times;
    bit-identical, quantize_int is exact)."""
    from ..operators.similarity import quantize_int

    vi = persist(
        catalog(spark, sf_dir).embeddings
        .select("vec_id", quantize_int("embedding").alias("vi"))
    )
    return _ivfpq_rerank_frame(spark, sf_dir, vi=vi)


def _int_sqdist(qv: str, nv: str):
    """Exact integer micro-unit squared L2 between two long-array cols."""
    return F.aggregate(
        F.zip_with(F.col(qv), F.col(nv), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _ivfpq_rerank_frame(
    spark: SparkSession,
    sf_dir: str,
    k: int = _K,
    r: int = _RERANK_R,
    short: DataFrame | None = None,
    vi: DataFrame | None = None,
) -> DataFrame:
    """The two-stage frame behind ``sim_topk_ivfpq_rerank`` (also reused
    by the rerank recall audit): ADC shortlist of ``r``, exact-L2 rerank
    to ``k``. ``short`` lets a caller that already ran the ADC probe hand
    in its shortlist (``topk_ivfpq_adc`` output at ``k=r``) instead of
    paying a second coded-corpus probe (the recall audit does). ``vi``
    lets the caller hand in ONE (vec_id, quantized-long-array) corpus
    frame — typically persisted — shared by the probe encode, the rerank's
    query/neighbor sides, and (in the audit) the ground truth, so the
    parquet scan + quantize pass runs once instead of per arm."""
    from pyspark.sql import Window

    from ..operators.similarity import quantize_int, topk_ivfpq_adc

    if vi is None:
        emb = catalog(spark, sf_dir).embeddings
        vi = emb.select("vec_id", quantize_int("embedding").alias("vi"))
    if short is None:
        short = topk_ivfpq_adc(
            vi,
            vi.filter(F.col("vec_id") < _N_QUERIES),
            _static_cent(spark, sf_dir),
            _ivfpq_books(spark, sf_dir),
            k=r,
            n_probe=2,
            vec_col="vi",
            pre_quantized=True,
        )
    short = short.select("query_id", "neighbor_id")
    scored = (
        short.join(
            vi.select(F.col("vec_id").alias("query_id"), F.col("vi").alias("qv")),
            "query_id",
        )
        .join(
            vi.select(
                F.col("vec_id").alias("neighbor_id"), F.col("vi").alias("nv")
            ),
            "neighbor_id",
        )
        .select(
            "query_id", "neighbor_id", _int_sqdist("qv", "nv").alias("exact_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


@register(
    "sim_recall_ivfpq_rerank_at_k",
    oracle=f"""
    {_IVFPQ_RERANK_SQL},
    {_ivfpq_adc_rank_sql(_K, 'adc')},
    gt AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM q a JOIN q b ON b.vec_id != a.vec_id
      WHERE a.vec_id < {_N_QUERIES}
      QUALIFY row_number() OVER (
        PARTITION BY a.vec_id ORDER BY {_EXACT_D2_SQL}, b.vec_id
      ) <= {_K}
    )
    SELECT gt.query_id,
           CAST(count(adc.neighbor_id) AS BIGINT) AS n_hits_adc,
           CAST(count(rr.neighbor_id) AS BIGINT) AS n_hits_rerank,
           count(adc.neighbor_id) / {_K}.0 AS recall_adc,
           count(rr.neighbor_id) / {_K}.0 AS recall_rerank
    FROM gt
    LEFT JOIN adc ON adc.query_id = gt.query_id
                 AND adc.neighbor_id = gt.neighbor_id
    LEFT JOIN (SELECT query_id, neighbor_id FROM reranked
               WHERE rank <= {_K}) rr
      ON rr.query_id = gt.query_id AND rr.neighbor_id = gt.neighbor_id
    GROUP BY gt.query_id
    """,
    tags=("similarity", "quantization", "ivf-pq", "rerank", "recall",
          "evaluation"),
)
def sim_recall_ivfpq_rerank_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the rerank BUYS, as a verified query: per-query recall@10 of
    raw ADC top-10 vs the reranked top-10, both against the exact
    integer-L2 ground truth (the metric both stages target). This is the
    fifth recall audit of the family and the acceptance test for
    ``sim_topk_ivfpq_rerank`` — with a 3x shortlist the rerank's misses
    can only be candidates the probe never surfaced, so
    recall_rerank >= recall_adc row by row is the expected (and
    fixture-measured) shape, with the gap quantifying PQ quantization
    error the refine stage recovered. Ground truth joins the 5 literal-
    bounded query vectors against the corpus (the brute-force baseline
    every audit uses); nothing sf-proportional is broadcast-hinted."""
    from pyspark.sql import Window

    from ..operators.similarity import quantize_int, topk_ivfpq_adc

    emb = catalog(spark, sf_dir).embeddings
    # ONE persisted quantized corpus serves the ground truth's both sides,
    # the ADC probe's encode, and the rerank frame's query/neighbor joins,
    # so the embedding parquet is scanned (and quantize_int evaluated)
    # once, not once per arm. Bit-identical: quantize_int is exact and
    # runs exactly once per vector.
    vi = persist(emb.select("vec_id", quantize_int("embedding").alias("vi")))
    gtq = vi.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vi").alias("qv")
    )
    cand = vi.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vi").alias("nv")
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    gt = (
        gtq.join(cand, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", _int_sqdist("qv", "nv").alias("d2")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _K)
        .select("query_id", "neighbor_id")
    )
    # ONE ADC probe serves both arms. The raw-ADC top-K is by
    # definition the rank<=K prefix of the rank<=R rerank shortlist (same
    # window: adc_dist asc, neighbor_id tiebreak), so running the coded-
    # corpus probe twice (k=K standalone + k=R inside the rerank frame)
    # computed the same scan twice. Persist the R-shortlist; the adc arm
    # filters it, the rerank frame reranks it.
    if _RERANK_R < _K:  # not assert: must survive python -O
        raise ValueError(
            f"shared-ADC-probe invariant violated: _RERANK_R={_RERANK_R} "
            f"< _K={_K}; the adc arm would be a wrong prefix"
        )
    short_full = persist(topk_ivfpq_adc(
        vi,
        vi.filter(F.col("vec_id") < _N_QUERIES),
        _static_cent(spark, sf_dir),
        _ivfpq_books(spark, sf_dir),
        k=_RERANK_R,
        n_probe=2,
        vec_col="vi",
        pre_quantized=True,
    ))
    adc = short_full.filter(F.col("rank") <= _K).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_adc")
    )
    rr = _ivfpq_rerank_frame(spark, sf_dir, short=short_full, vi=vi).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_rr")
    )
    return (
        gt.join(adc, ["query_id", "neighbor_id"], "left")
        .join(rr, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit_adc").alias("n_hits_adc"),
            F.count("hit_rr").alias("n_hits_rerank"),
            (F.count("hit_adc") / float(_K)).alias("recall_adc"),
            (F.count("hit_rr") / float(_K)).alias("recall_rerank"),
        )
    )


@register(
    "emb_label_centroid_drift",
    oracle="""
    WITH ex AS (
      SELECT label, d,
             CAST(round(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings, range(1, 65) t(d)
    ),
    dims AS (
      SELECT label, d, CAST(sum(x) AS BIGINT) AS s FROM ex GROUP BY label, d
    ),
    counts AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM embeddings),
    gd AS (SELECT d, CAST(sum(x) AS BIGINT) AS sg FROM ex GROUP BY d),
    cl AS (
      SELECT dims.label, dims.d, (1000 * dims.s) // counts.n AS c
      FROM dims JOIN counts ON counts.label = dims.label
    ),
    g AS (
      SELECT d, (1000 * sg) // (SELECT nn FROM tot) AS gc FROM gd
    ),
    sel AS (
      SELECT cl.label, (cl.c - g.gc) * (cl.c - g.gc) AS d2
      FROM cl JOIN g ON g.d = cl.d
    )
    SELECT s.label, c2.n AS n_vecs, CAST(sum(s.d2) AS BIGINT) AS drift_sq
    FROM sel s JOIN counts c2 ON c2.label = s.label
    GROUP BY s.label, c2.n
    """,
    tags=("similarity", "embedding", "monitoring", "distribution-shift",
          "exact-arithmetic"),
)
def emb_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution-shift monitor — the per-slice drift check a
    production embedding pipeline runs on every refresh: squared L2
    distance between each label's centroid and the GLOBAL centroid, in
    exact integer arithmetic end to end. Components quantize to milli
    units at the scan, per-dim sums reduce order-independently, both
    centroids take the milli-mean via integer division (identical
    truncation-toward-zero in both engines, verified for negatives), and
    the drift is the exact integer sum of squared component gaps —
    headroom to ~2e8 vectors per slice before 64-bit overflow.

    Shape: ONE posexplode pass feeds both the (label, dim) and (dim)
    partial sums (map-side combined, bounded by |labels| x 64 and 64
    rows); the global centroid rides a broadcast 64-row frame and the
    1-row total a broadcast scalar. Nothing at vector grain ever
    shuffles."""
    emb = catalog(spark, sf_dir).embeddings
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
    ).select(
        "label", "d", F.round(F.col("x") * 1000).cast("long").alias("xs")
    )
    dims = ex.groupBy("label", "d").agg(F.sum("xs").alias("s"))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = emb.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    gd = ex.groupBy("d").agg(F.sum("xs").alias("sg"))
    g = gd.crossJoin(F.broadcast(tot)).select(
        "d", F.expr("(1000 * sg) div nn").alias("gc")
    )
    cl = dims.join(counts, "label").select(
        "label", "d", "n", F.expr("(1000 * s) div n").alias("c")
    )
    return (
        cl.join(F.broadcast(g), "d")
        .select(
            "label", "n",
            ((F.col("c") - F.col("gc")) * (F.col("c") - F.col("gc"))).alias("d2"),
        )
        .groupBy("label", "n")
        .agg(F.sum("d2").alias("drift_sq"))
        .select(F.col("label"), F.col("n").alias("n_vecs"), "drift_sq")
    )
