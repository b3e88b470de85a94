"""Embedding similarity search over ``array<float>`` columns.

Two paths, same kernels (:mod:`..functions.vectors` — JVM-side ``zip_with`` +
``aggregate``, fold order matched to the oracle engine for bit-identical
scores):

- **Brute force** (:func:`topk_bruteforce`): query-set x corpus cross join ->
  cosine -> per-query top-k via ranked window. Exact; the baseline. At scale
  the corpus side stays partitioned, the (small) query set broadcasts, and
  the ranking shuffles only (query, candidate, score) triples.
- **Random-hyperplane LSH** (:func:`with_lsh_bucket`, :func:`topk_lsh`):
  sign-bucket each vector against ``n_planes`` fixed hyperplanes, then search
  only within the query's bucket. Approximate; turns the 100 TB scan into a
  bucket-local probe (recall tunable by n_planes / multi-probe). Hyperplanes
  are deterministic (seeded from the md5-based h60, materialized as literal
  arrays) so the approximate result is *reproducible and oracle-verifiable* —
  the oracle runs the same construction, not a different ANN library.

For near-duplicate detection by cosine (the fifth dedup family), use
:func:`cosine_pairs` with a blocking column.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import pround
from ..functions.vectors import cosine_similarity, dot_product

__all__ = [
    "kmeans_fit",
    "centroid_dist_structs_int",
    "topk_ivf",
    "hyperplanes",
    "hyperplane_sql_literal",
    "with_lsh_bucket",
    "lsh_bucket_sql",
    "topk_bruteforce",
    "topk_lsh",
    "cosine_pairs",
    "cosine_pairs_dense",
    "int8_scales",
    "with_int8_codes",
    "int8_codes_sql_cte",
    "topk_int8",
    "residual_codebooks_int",
    "with_ivfpq_codes",
    "topk_ivfpq_adc",
]


def _h60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim, seeded from
    the engine's portable hash — identical constants on every engine."""
    return [
        [((_h60_py(f"{p}:{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def hyperplane_sql_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def _plane_col(plane: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in plane])


def with_lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """Add a sign-pattern ``bucket`` column (int, 0..2^n_planes-1).

    ``dim`` must equal the embedding dimension (mirrors :func:`lsh_bucket_sql`,
    which takes the same parameter): hyperplanes are materialized as literal
    arrays of that length, and a mismatch would silently degenerate the
    bucket (``zip_with`` null-pads the shorter side and the dot-fold goes
    NULL). Pinned by a non-64-dim test so truncation can't recur."""
    planes = hyperplanes(n_planes, dim)
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        bit = F.when(dot_product(F.col(vec_col), _plane_col(plane)) > 0, 1 << p).otherwise(0)
        bucket = bucket + bit
    return df.withColumn("bucket", bucket.cast("int"))


def lsh_bucket_sql(vec_expr: str, n_planes: int = 8, dim: int = 64) -> str:
    planes = hyperplanes(n_planes, dim)
    parts = []
    for p, plane in enumerate(planes):
        lit = hyperplane_sql_literal(plane)
        dot = f"list_dot_product(CAST({vec_expr} AS DOUBLE[]), {lit})"
        parts.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST((" + " + ".join(parts) + ") AS INTEGER)"


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the query set, rank by
    (cosine desc, candidate id) for a deterministic k-set."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col(vec_col), F.col("query_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The corpus is bucketed once (reusable across query batches); the join key
    is the bucket id, so each query probes ~corpus/2^n_planes vectors.
    """
    cb = with_lsh_bucket(corpus, vec_col, n_planes, dim).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col), F.col("bucket")
    )
    qb = with_lsh_bucket(queries, vec_col, n_planes, dim).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col("bucket"),
    )
    scored = cb.join(F.broadcast(qb), ["bucket"])
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col(vec_col), F.col("query_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k with multi-probe: each query scans its own bucket
    plus the ``n_planes`` buckets at Hamming distance 1 (one plane bit
    flipped — the vectors most likely to have landed just across one
    hyperplane). Recall rises steeply (probe count multiplies the collision
    probability) while the scan stays (n_planes+1)/2^n_planes of the corpus
    — the standard recall/cost dial for hyperplane LSH, entirely
    deterministic and therefore oracle-verifiable. The corpus index is
    untouched; only the *query* side fans out, so at 100 TB the same
    bucket-partitioned corpus serves any probe width."""
    cb = with_lsh_bucket(corpus, vec_col, n_planes, dim).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col), F.col("bucket")
    )
    qb = with_lsh_bucket(queries, vec_col, n_planes, dim).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col("bucket"),
    )
    masks = [0] + [1 << p for p in range(n_planes)]
    probes = qb.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ),
    )
    # A candidate matches at most one probe (buckets are distinct), so no
    # dedup is needed before ranking.
    scored = cb.join(F.broadcast(probes), ["bucket"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col(vec_col), F.col("query_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold within a blocking key
    (embedding-based dedup). Without blocking this is the O(n^2) verify
    stage; with LSH buckets as the block it scales to full corpora."""
    from ..functions.rounding import pround
    from ..functions.vectors import l2_norm

    cols = [F.col(id_col), F.col(vec_col)] + (
        [F.col(block_col)] if block_col else []
    )
    # Precompute each vector's norm once (n sqrt-folds) instead of twice per
    # pair (O(n^2) folds) — same arithmetic as cosine_similarity
    # (dot / (sqrt(sa) * sqrt(sb))), so results are bit-identical.
    base = df.select(*cols, l2_norm(vec_col).alias("nrm"))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cos = pround(
        dot_product(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_dense(
    df: DataFrame,
    threshold: float,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Block-local all-pairs cosine as ONE dense matmul per block
    (grouped-map Arrow batch + numpy) — the fast form of
    :func:`cosine_pairs` and the shape FAISS-style pipelines use for the
    verify stage: candidate blocks (metadata or LSH buckets) are small by
    construction, so each is a single ``V @ V.T`` instead of |block|^2
    interpreted fold expressions. Measured 8-10x over the fold-expression
    join at sf0.1. Equality with the fold form is FIXTURE-PINNED, not
    guaranteed on arbitrary data: numpy/BLAS summation order differs from
    the left fold in the last ulp, and the shared 1e-6 rounding only hides
    that when the value is not within ~1 ulp of a rounding boundary
    (``tests/test_similarity_lsh.py::test_cosine_pairs_dense_equals_fold``
    pins both fixtures; a boundary-straddling pair on new data could flip
    the last digit or threshold membership — use :func:`cosine_pairs` when
    strict fold parity must hold). NULL blocking keys are dropped, matching
    the join form (``a.block = b.block`` never matches NULL). The keyed
    repartition (default ``defaultParallelism``) is the usual pandas-stage
    parallelism floor (AQE coalesces cheap-by-bytes Python stages to one
    task otherwise). At 100 TB each block must fit an Arrow batch — exactly
    the property the blocking key is chosen for; fall back to
    :func:`cosine_pairs` for pathologically large blocks."""
    import numpy as np
    import pandas as pd

    if block_col is None:
        raise ValueError("dense all-pairs needs a blocking column")
    df = df.filter(F.col(block_col).isNotNull())
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        nrm = np.sqrt((V * V).sum(axis=1))
        S = (V @ V.T) / np.outer(nrm, nrm)
        S = np.floor(S * 1e6 + 0.5) / 1e6  # same pround(6) as the fold form
        iu, ju = np.triu_indices(len(ids), k=1)
        a, b = ids[iu], ids[ju]
        swap = a > b  # ids within a block arrive unordered; keep vec_a < vec_b
        a2, b2 = np.where(swap, b, a), np.where(swap, a, b)
        cos = S[iu, ju]
        keep = cos >= threshold
        return pd.DataFrame(
            {"vec_a": a2[keep], "vec_b": b2[keep], "cosine": cos[keep]}
        )

    return (
        df.select(id_col, vec_col, block_col)
        .repartition(n_parts, block_col)
        .groupBy(block_col)
        .applyInPandas(block, "vec_a long, vec_b long, cosine double")
    )


def rerank_dense_by_cell(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    num_partitions: int | None = None,
) -> DataFrame:
    """Probe re-ranking as one dense matmul per cell (cogrouped-map):
    ``corpus`` carries (neighbor_id, vec, cluster), ``queries`` carries
    (query_id, query_vec, cluster) with one row per probed cell; each cell
    scores candidates x probing-queries as ``C @ Q.T`` instead of one
    interpreted fold expression per pair — the same trade as
    :func:`cosine_pairs_dense`, with the same 1e-6 rounding; equality with
    the fold form is fixture-pinned by the IVF oracles (see
    :func:`cosine_pairs_dense` on why last-ulp fold-order divergence is
    possible on arbitrary data). Self-matches (neighbor == query) are
    dropped inside the batch.

    TRADE-OFF, stated plainly: this stage DOES shuffle the corpus vectors —
    the keyed repartition moves every (neighbor_id, vec, cluster) row into
    the Python cogroup, with at most one non-empty group per cell. That is
    one full shuffle of the corpus per query *batch*, bought back by the
    matmul replacing |cell|x|probes| interpreted folds. At serving scale
    the corpus side should instead be the persisted partitioned-by-cluster
    index (see ``test_partitioned_index_prunes_probed_cells``), where cell
    locality is free at read time and only probed cells are read at all.
    ``num_partitions`` defaults to ``defaultParallelism`` (it previously
    hard-coded 16, silently capping parallelism); cells are
    Arrow-batch-sized by construction — that is what the coarse quantizer
    is for."""
    import numpy as np
    import pandas as pd

    n_parts = num_partitions or corpus.sparkSession.sparkContext.defaultParallelism

    def cell(corp: pd.DataFrame, qs: pd.DataFrame) -> pd.DataFrame:
        if len(corp) == 0 or len(qs) == 0:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int64"),
                    "neighbor_id": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        C = np.array([np.asarray(v, dtype=np.float64) for v in corp[vec_col]])
        Q = np.array([np.asarray(v, dtype=np.float64) for v in qs["query_vec"]])
        cn = np.sqrt((C * C).sum(axis=1))
        qn = np.sqrt((Q * Q).sum(axis=1))
        S = np.floor((C @ Q.T) / np.outer(cn, qn) * 1e6 + 0.5) / 1e6
        qq, nn = np.meshgrid(
            qs["query_id"].to_numpy(), corp["neighbor_id"].to_numpy()
        )
        out = pd.DataFrame(
            {
                "query_id": qq.ravel(),
                "neighbor_id": nn.ravel(),
                "cosine": S.ravel(),
            }
        )
        return out[out.query_id != out.neighbor_id]

    return (
        corpus.repartition(n_parts, "cluster")
        .groupBy("cluster")
        .cogroup(queries.repartition(n_parts, "cluster").groupBy("cluster"))
        .applyInPandas(cell, "query_id long, neighbor_id long, cosine double")
    )


# ------------------------------------------------------------------- IVF

def quantize_int(vec_col: Column | str) -> Column:
    """Micro-unit quantization: ``round(x * 1e6)`` per element, as long.
    Exactly reproducible on any engine (same rule as the money kernels), so
    distances computed on quantized vectors are pure integer arithmetic —
    no float fold-order to disagree about."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: F.round(x.cast("double") * 1000000.0).cast("long"))


def seed_centroids_int(
    corpus: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[int]]]:
    """Sampled-seed coarse quantizer: the k evenly-spaced corpus vectors
    (ids ``0, step, 2*step, ...`` with ``step = (max_id + 1) // k``),
    quantized to integer micro-units. This is k-means initialization without
    the Lloyd iterations — centroids live on the data manifold, so the
    Voronoi cells are usably balanced (measured 47-75 per 500 on the
    near-uniform fixture vs 468/500 for random fixed directions), yet the
    whole construction is a *fixed rule over the data*, expressible in
    plain SQL and therefore exactly verifiable (unlike iterative training).
    One bounded driver roundtrip: k*dim ints."""
    step = (corpus.agg(F.max(id_col)).first()[0] + 1) // k
    cid = (F.col(id_col) / step).cast("int")
    rows = (
        corpus.filter((F.col(id_col) % step == 0) & (cid < k))
        .select(cid.alias("cid"), quantize_int(vec_col).alias("v"))
        .collect()
    )
    return sorted((r.cid, [int(x) for x in r.v]) for r in rows)


def assign_clusters_static(
    corpus: DataFrame,
    centroids_int: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-static-centroid assignment with EXACT integer distances:
    vectors are quantized to micro-units and ``dist2`` is the integer sum of
    squared differences — order-independent, overflow-safe (<= 4e12 per dim
    * dims), and bit-identical across engines. Same no-shuffle shape as
    the trained path: centroids are plan literals; only (id, cluster,
    dist2) rows leave the scan."""
    best = F.array_min(centroid_dist_structs_int(vec_col, centroids_int))
    return corpus.select(
        F.col(id_col),
        best.getField("cluster").alias("cluster"),
        best.getField("dist2").alias("dist2"),
    )


def centroid_dist_structs_int(
    vec_col: Column | str,
    centroids_int: list[tuple[int, list[int]]],
    quantized: bool = False,
) -> Column:
    """array<struct<dist2, cluster>> of EXACT integer squared distances to
    each centroid: the centroid matrix enters the plan as ONE constant-folded
    array-of-arrays literal and distances are a single ``transform`` over it
    (one fold expression total instead of one per centroid — k-times smaller
    expression tree, ~1.6x on an assignment pass at interactive scale).
    Micro-unit quantized vectors, arbitrary cluster ids carried in a parallel
    literal array; pass ``quantized=True`` when ``vec_col`` already holds
    micro-unit longs (the k-means training loop quantizes once up front).

    The arithmetic runs in DOUBLES over integer-valued operands, which is
    still EXACT: every intermediate (per-dim squared difference <= 4e12 at
    micro-unit magnitude, running sum <= dims x that) stays far below 2^53,
    where float64 represents every integer exactly and addition of exact
    integers is order-independent. Measured ~2x faster than the long-typed
    fold it replaced (interpreted HOF lambdas pay ANSI overflow checks on
    every long multiply/add; doubles don't), with bit-identical results —
    guarded below so a wider-than-designed input fails loudly instead of
    rounding silently."""
    max_c = max((abs(x) for _, cvec in centroids_int for x in cvec), default=0)
    dims = max((len(cvec) for _, cvec in centroids_int), default=0)
    # |v - c| <= |v| + |c|; vectors share the centroids' micro-unit scale.
    # 4x headroom on the vector side covers outliers vs the centroid max.
    if dims * (5 * max(max_c, 1)) ** 2 >= 2**53:
        raise ValueError(
            "centroid magnitudes too large for exact double distance folds; "
            "reduce the quantization scale"
        )
    C = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in cvec])
            for _, cvec in centroids_int
        ]
    )
    ids = F.array(*[F.lit(int(cid)) for cid, _ in centroids_int])
    v_col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if quantized:
        v_num = F.transform(v_col, lambda x: x.cast("double"))
    else:
        # integer-valued doubles: same rounding rule as quantize_int minus
        # the long cast
        v_num = F.transform(v_col, lambda x: F.round(x.cast("double") * 1000000.0))
    dists = F.transform(
        C,
        lambda c: F.aggregate(
            F.zip_with(v_num, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("long"),
    )
    return F.zip_with(
        dists, ids, lambda d, i: F.struct(d.alias("dist2"), i.alias("cluster"))
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[int]]]:
    """Deterministic distributed Lloyd's k-means — the IVF coarse quantizer.

    INTEGER-EXACT end to end, which makes the trained index not merely
    reproducible but *engine-portable*: vectors are quantized once to
    micro-units (``round(x * 1e6)`` longs), centroids live in micro-units,
    assignment distances are integer sums of squared differences
    (order-independent — no float fold-order to disagree about), and the
    centroid update is floor-half-up integer division
    (``floor(s/n + 0.5) = (2s + n) // (2n)``, Python floor division). Every
    step is expressible in portable SQL, so the full training loop is
    value-hash-verified against the DuckDB oracle of
    ``sim_ivf_assignments`` — no invariant-test-only training anymore.

    Init = the k vectors with smallest ids; fixed iteration count; empty
    clusters keep their previous centroid. Per iteration: one broadcast of
    k centroids + ONE job — the assignment pass (zip_with integer folds,
    argmin via struct-min with ties to the smallest cluster id) flows
    straight into the (cluster, dim) aggregation, so the corpus is scanned
    once per iteration and nothing joins back. Corpus vectors never
    shuffle; only (cluster, dim, sum) partials do. Centroids round-trip
    through the driver between iterations (k*dim ints — trivial at any
    corpus scale). Returns ``[(cluster_id, centroid_micro_units)]`` — the
    same shape as :func:`seed_centroids_int`, so assignment and probing
    share the static path's exact-integer machinery."""
    narrow = corpus.select(
        F.col(id_col).alias("_id"), quantize_int(vec_col).alias("_vi")
    ).persist()
    seeds = narrow.orderBy("_id").limit(k).select("_vi").collect()
    dim = len(seeds[0][0])
    cents: list[tuple[int, list[int]]] = [
        (c, [int(x) for x in r[0]]) for c, r in enumerate(seeds)
    ]
    try:
        for _ in range(iterations):
            best = F.array_min(
                centroid_dist_structs_int("_vi", cents, quantized=True)
            )
            # Per-dim sums as `dim` parallel scalar aggregates (the
            # int8_scales pattern): one hash-agg pass over k groups, no
            # explode — replaces a (cluster, dim) shuffle of n*dim rows
            # with k rows x dim columns.
            sums = (
                narrow.select(
                    best.getField("cluster").alias("cluster"), F.col("_vi")
                )
                .groupBy("cluster")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.sum(F.element_at("_vi", d + 1)).alias(f"s{d}")
                        for d in range(dim)
                    ],
                )
                .collect()
            )
            acc: dict[int, list[int]] = {}
            counts: dict[int, int] = {}
            for r in sums:
                acc[r.cluster] = [int(r[f"s{d}"]) for d in range(dim)]
                counts[r.cluster] = int(r.n)
            cents = [
                (
                    c,
                    [
                        (2 * acc[c][d] + counts[c]) // (2 * counts[c])
                        for d in range(dim)
                    ]
                    if c in acc  # empty clusters keep their previous centroid
                    else prev,
                )
                for c, prev in cents
            ]
    finally:
        narrow.unpersist()
    return cents


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_int: list[tuple[int, list[int]]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: search only the ``n_probe`` cells nearest each query,
    with exact cosine re-ranking inside the probed cells.

    Works for any coarse quantizer in micro-unit form — sampled seeds
    (:func:`seed_centroids_int`) or trained (:func:`kmeans_fit`); cell
    choice is exact integer arithmetic either way, so the whole probe is
    value-hash-verifiable. One scan assigns each corpus vector its cell and
    keeps the vector (re-joining assignments by id would rescan the
    corpus); the corpus is partitioned once by cell id (at 100 TB: a
    persisted, partitioned-by-cluster parquet index — see
    ``test_partitioned_index_prunes_probed_cells``); each query touches
    ~n_probe/k of it. Re-ranking is one dense matmul per probed cell
    (:func:`rerank_dense_by_cell` — NOTE it repartitions the corpus by
    cell, one vector shuffle per query batch; serve from the persisted
    index to avoid it), fixture-pinned equal to the fold-expression join
    under the shared 1e-6 rounding."""
    best = F.array_min(centroid_dist_structs_int(vec_col, centroids_int))
    corpus_c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col),
        best.getField("cluster").alias("cluster"),
    )

    probes = F.slice(
        F.array_sort(centroid_dist_structs_int(vec_col, centroids_int)), 1, n_probe
    )
    qx = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(F.transform(probes, lambda s: s.getField("cluster"))).alias(
            "cluster"
        ),
    )
    scored = rerank_dense_by_cell(corpus_c, qx, vec_col=vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    ).withColumn("rank", F.col("rank").cast("int"))


# ------------------------------------------------------- int8 quantization

def int8_scales(corpus: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """One-row DataFrame with the per-dimension symmetric quantization scales
    (``max |x_d|`` over the corpus), as an array<double>.

    Computed as ``dim`` parallel ``max(abs(element_at(...)))`` aggregates in a
    single reduce pass — no explode, no shuffle of vectors, and (unlike
    summation) max is order-independent, so the scales are bit-identical on
    any engine/partitioning. (This is N parallel *scalar* aggregates, not the
    N-parallel-array-fold Catalyst blowup documented in dedup.py.)"""
    maxes = [
        F.max(F.abs(F.element_at(F.col(vec_col), d + 1).cast("double"))).alias(f"_m{d}")
        for d in range(dim)
    ]
    return corpus.agg(*maxes).select(
        F.array(*[F.greatest(F.col(f"_m{d}"), F.lit(1e-12)) for d in range(dim)]).alias(
            "scales"
        )
    )


def with_int8_codes(
    corpus: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Symmetric per-dimension int8 quantization: ``code_d = floor(x_d * 127 /
    scale_d + 0.5)`` (the engine's portable round-half-up — Spark round() and
    DuckDB round() disagree on doubles), codes in [-127, 127] as longs.

    The 4x memory/bandwidth cut (plus integer dot products downstream) is the
    standard first compression step for billion-vector ANN serving (cf. IVF-SQ8
    in the FAISS/Milvus lineage). The one-row scales frame broadcasts via
    crossJoin; vectors never shuffle."""
    scales = int8_scales(corpus, vec_col, dim)
    codes = F.zip_with(
        F.col(vec_col),
        F.col("scales"),
        lambda x, s: F.floor(x.cast("double") * 127.0 / s + 0.5).cast("long"),
    )
    return corpus.crossJoin(F.broadcast(scales)).withColumn("codes", codes).drop("scales")


def int8_codes_sql_cte(table: str = "embeddings", vec_col: str = "embedding") -> str:
    """DuckDB CTE body computing the same (vec_id, label, codes) — the oracle
    twin of :func:`with_int8_codes` (identical double ops, identical
    round-half-up), for splicing into a WITH clause."""
    return f"""
    __scales AS (
      SELECT list(m ORDER BY d) AS scales FROM (
        SELECT d, greatest(max(abs(CAST(x AS DOUBLE))), 1e-12) AS m FROM (
          SELECT unnest({vec_col}) AS x, generate_subscripts({vec_col}, 1) AS d
          FROM {table}
        ) GROUP BY d
      )
    ),
    __codes AS (
      SELECT vec_id, label,
             list_transform(range(1, len({vec_col}) + 1),
               i -> CAST(floor(CAST({vec_col}[i] AS DOUBLE) * 127.0 / scales[i] + 0.5)
                    AS BIGINT)) AS codes
      FROM {table}, __scales
    )"""


def topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Top-k by integer dot product over int8 codes — the quantized search
    path. Scores are exact integer arithmetic (|dot| <= dim * 127^2 ~ 1e6,
    no float fold order at all), so ranking is deterministic and the whole
    query is oracle-verifiable. Same shape as :func:`topk_bruteforce`:
    broadcast query codes, corpus codes stay partitioned; at scale the codes
    column is the only thing scanned (4x smaller than the float vectors)."""
    coded = with_int8_codes(corpus, vec_col, dim)
    q = queries.select(F.col(id_col).alias("query_id")).join(
        coded.select(F.col(id_col).alias("query_id"), F.col("codes").alias("query_codes")),
        "query_id",
    )
    c = coded.select(F.col(id_col).alias("neighbor_id"), "codes")
    dot = F.aggregate(
        F.zip_with(F.col("codes"), F.col("query_codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", dot.alias("dot_int")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_int").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# -------------------------------------------------- product quantization

def pq_codebooks_int(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[int]]]]:
    """Deterministic PQ codebooks: the same k evenly-spaced corpus vectors
    as the static IVF quantizer, split into ``m`` subspaces — codebook j is
    the k sub-vectors of subspace j in integer micro-units. A fixed rule
    over the data (no training iterations), so the whole PQ construction is
    SQL-expressible and value-hash verifiable. One bounded driver roundtrip
    (k * dim ints).

    ASSUMES the catalog's dense-id contract (vec_id ~ 0..N-1): the seeds
    are the vectors at id multiples of (max_id+1)//k. A sparse id space
    (holes wider than the step) can yield fewer than k seeds — seed by
    rank (row_number over vec_id) instead if ingesting non-dense ids."""
    step = (corpus.agg(F.max(id_col)).first()[0] + 1) // k
    cid = (F.col(id_col) / step).cast("int")
    rows = (
        corpus.filter((F.col(id_col) % step == 0) & (cid < k))
        .select(cid.alias("cid"), quantize_int(vec_col).alias("v"))
        .collect()
    )
    seeds = sorted((r.cid, [int(x) for x in r.v]) for r in rows)
    dim = len(seeds[0][1])
    d_sub = dim // m
    return [
        [(c, v[j * d_sub : (j + 1) * d_sub]) for c, v in seeds] for j in range(m)
    ]


def _subspace_argmin_exprs(
    codebooks: list[list[tuple[int, list[int]]]], src_col: str
) -> list[str]:
    """Per-subspace ``least(struct(dist, idx)...)`` argmin SQL strings over
    integer-vector column ``src_col``. Each is ONE F.expr() SQL string:
    building the 16-codeword argmin per subspace from nested Column objects
    costs thousands of py4j round-trips (measured ~6s of driver time per
    plan build); a single parsed string is milliseconds for the identical
    plan. Shared by the plain-PQ and residual-PQ (IVFADC) coders."""
    d_sub = len(codebooks[0][0][1])
    best_exprs = []
    for j, cb in enumerate(codebooks):
        lo = j * d_sub + 1
        structs = []
        for cid, cw in cb:
            lit = "array(" + ", ".join(f"{int(x)}L" for x in cw) + ")"
            d2 = (
                f"aggregate(zip_with(slice({src_col}, {lo}, {d_sub}), {lit}, "
                "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
            )
            structs.append(f"named_struct('d', {d2}, 'i', {int(cid)})")
        best_exprs.append("least(" + ", ".join(structs) + ")")
    return best_exprs


def with_pq_codes(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign PQ codes: for each subspace, the index of the codeword with
    the smallest EXACT integer squared distance (ties -> lowest index, via
    struct-min on (dist, idx)). With m=8 subspaces of 16 codewords a
    64-dim float vector compresses 32x into 8 nibbles; the assignment is
    pure expressions over plan-literal codebooks — codebooks broadcast in
    the plan, vectors never shuffle, nothing leaves the scan but
    (id, codes, distortion).

    The quantized vector is materialized ONCE via an explicit projection
    boundary before the per-subspace folds reference slices of it —
    embedding the quantize transform inside all m*k distance folds would
    re-evaluate it per fold (the documented subtree-re-evaluation trap)."""
    staged = corpus.withColumn("_v_int", quantize_int(vec_col))
    best_exprs = _subspace_argmin_exprs(codebooks, "_v_int")
    cols = [
        F.expr(f"({e}).i").cast("int").alias(f"code_{j}")
        for j, e in enumerate(best_exprs)
    ]
    total = F.expr(" + ".join(f"({e}).d" for e in best_exprs)).alias("distortion")
    return staged.select(
        *[c for c in corpus.columns if c != vec_col], *cols, total
    )


def topk_pq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the serving half of
    product quantization: the query stays exact (integer micro-units), the
    corpus is its 8 PQ codes, and the distance is 8 lookup-table reads
    per candidate instead of 64 multiplies. The corpus is coded ONCE (one
    scan of the codes columns — the 32x-smaller index); the per-query LUTs
    (m x k integer distances, query-subvector -> codeword) travel as a
    broadcast row set cross-joined onto the coded scan, so adding queries
    adds broadcast rows, not corpus scans (an earlier shape unioned one
    coded-scan branch per query and re-ran the code argmin per branch —
    measured 4.0s -> 1.7s warm at sf0.1). Zero shuffle before the
    final top-k ranking; all-integer arithmetic end to end: ranks, ties
    included, verify against SQL."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    spark = corpus.sparkSession
    coded = with_pq_codes(corpus, codebooks, vec_col).select(
        F.col(id_col).alias("neighbor_id"), *[f"code_{j}" for j in range(m)]
    )
    q_rows = queries.select(id_col, quantize_int(vec_col).alias("v")).collect()
    lut_rows = []
    for r in q_rows:
        qv = [int(x) for x in r.v]
        luts = []
        for j, cb in enumerate(codebooks):
            sub = qv[j * d_sub : (j + 1) * d_sub]
            by_cid = dict(cb)
            luts.append(
                [
                    sum((sub[i] - by_cid[c][i]) ** 2 for i in range(d_sub))
                    for c in range(len(cb))
                ]
            )
        lut_rows.append((int(r[0]), luts))
    lut_df = spark.createDataFrame(
        lut_rows, "query_id long, luts array<array<bigint>>"
    )
    adc = " + ".join(
        f"element_at(element_at(luts, {j + 1}), code_{j} + 1)" for j in range(m)
    )
    scored = (
        coded.crossJoin(F.broadcast(lut_df))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(adc).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------- IVF-PQ


def residual_codebooks_int(
    corpus: DataFrame,
    centroids_int: list[tuple[int, list[int]]],
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[int]]]]:
    """Residual PQ codebooks — the IVFADC construction: codewords are the
    RESIDUALS (vector minus its nearest coarse centroid) of k evenly-spaced
    corpus vectors, split into ``m`` subspaces. Seeds sit at MID-stride
    (``vec_id % step == step // 2``) so they never coincide with the coarse
    quantizer's own seeds (whose residuals are identically zero — a wasted
    codeword); every codeword is a genuine residual. Like the plain-PQ
    codebooks this is a fixed rule over the data, fully SQL-expressible,
    with one bounded driver roundtrip (k*dim ints). The driver-side cell
    assignment below uses the same exact integer distance + (dist, cid)
    tie-break as the engine expressions, so both engines derive identical
    books."""
    step = (corpus.agg(F.max(id_col)).first()[0] + 1) // k
    off = step // 2
    rows = (
        corpus.filter(
            (F.col(id_col) % step == off)
            & ((F.col(id_col) / step).cast("int") < k)
        )
        .select(
            (F.col(id_col) / step).cast("int").alias("cid"),
            quantize_int(vec_col).alias("v"),
        )
        .collect()
    )
    seeds = sorted((r.cid, [int(x) for x in r.v]) for r in rows)
    cents = dict(centroids_int)
    res_seeds = []
    for scid, v in seeds:
        _, cell = min(
            (sum((a - b) ** 2 for a, b in zip(v, cv)), c)
            for c, cv in centroids_int
        )
        res_seeds.append((scid, [a - b for a, b in zip(v, cents[cell])]))
    dim = len(seeds[0][1])
    d_sub = dim // m
    return [
        [(c, rv[j * d_sub : (j + 1) * d_sub]) for c, rv in res_seeds]
        for j in range(m)
    ]


def with_ivfpq_codes(
    corpus: DataFrame,
    centroids_int: list[tuple[int, list[int]]],
    codebooks: list[list[tuple[int, list[int]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_quantized: bool = False,
) -> DataFrame:
    """IVF-PQ encoding: assign each vector its coarse cell (exact integer
    distances, centroids as plan literals), subtract the cell centroid, and
    PQ-code the RESIDUAL against the residual codebooks. Residuals are an
    order of magnitude smaller than raw vectors, so the same 16-codeword
    books quantize them with far less distortion — the reason FAISS-style
    IVFADC encodes residuals, not vectors. Everything is expressions over
    plan literals: one no-shuffle scan emits (id, cell, m codes,
    distortion); the 256-byte float vector never leaves the scan.

    The quantized vector and residual are staged through named columns;
    Catalyst's CollapseProject keeps multiply-referenced non-trivial
    expressions at a projection boundary, so the coarse argmin runs once,
    not once per codeword fold.

    ``pre_quantized=True`` declares that ``vec_col`` ALREADY holds the
    micro-unit long array (a caller sharing one persisted quantized corpus
    across probe/truth/rerank arms, r13); the encoding arithmetic is
    bit-identical either way — quantize_int is exact and applied exactly
    once on some path."""
    cids = [c for c, _ in centroids_int]
    if cids != list(range(len(cids))):
        raise ValueError("coarse centroid ids must be dense 0..k-1")
    m = len(codebooks)
    C = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(x)}L" for x in cvec) + ")"
            for _, cvec in centroids_int
        )
        + ")"
    )
    staged = corpus.withColumn(
        "_v_int", F.col(vec_col) if pre_quantized else quantize_int(vec_col)
    )
    best = F.array_min(
        centroid_dist_structs_int("_v_int", centroids_int, quantized=True)
    )
    staged = staged.withColumn("cluster", best.getField("cluster").cast("int"))
    staged = staged.withColumn(
        "_r_int",
        F.expr(f"zip_with(_v_int, element_at({C}, cluster + 1), (a, b) -> a - b)"),
    )
    best_exprs = _subspace_argmin_exprs(codebooks, "_r_int")
    cols = [
        F.expr(f"({e}).i").cast("int").alias(f"code_{j}")
        for j, e in enumerate(best_exprs)
    ]
    total = F.expr(" + ".join(f"({e}).d" for e in best_exprs)).alias("distortion")
    return staged.select(
        *[c for c in corpus.columns if c != vec_col], "cluster", *cols, total
    )


def topk_ivfpq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_int: list[tuple[int, list[int]]],
    codebooks: list[list[tuple[int, list[int]]]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_quantized: bool = False,
) -> DataFrame:
    """IVFADC serving: coarse-probe then asymmetric distance over residual
    PQ codes — the full billion-scale ANN index shape (IVF prunes the scan
    to ~n_probe/k of the corpus, PQ shrinks what's scanned 32x). Per query:
    choose the ``n_probe`` nearest cells (exact integer distances on the
    driver — k*dim ints, bounded), build one LUT per (query, cell) from the
    QUERY'S residual in that cell against the codebooks, and broadcast-join
    LUT rows to the coded corpus **on the cell id** — candidates outside
    probed cells are never touched, and per candidate the distance is m
    lookup-table reads. All-integer end to end: ranks and ties verify
    against the identical construction in SQL. At 100 TB the coded corpus
    is a persisted table partitioned by cell; the cell-key join prunes at
    file-listing level just like the IVF-static index."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    spark = corpus.sparkSession
    coded = with_ivfpq_codes(
        corpus, centroids_int, codebooks, vec_col, id_col,
        pre_quantized=pre_quantized,
    ).select(
        F.col(id_col).alias("neighbor_id"), "cluster", *[f"code_{j}" for j in range(m)]
    )
    cents = dict(centroids_int)
    q_vec = (
        F.col(vec_col) if pre_quantized else quantize_int(vec_col)
    )
    q_rows = queries.select(id_col, q_vec.alias("v")).collect()
    lut_rows = []
    for r in q_rows:
        qv = [int(x) for x in r.v]
        by_cell = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), c)
            for c, cv in centroids_int
        )
        for _, cell in by_cell[:n_probe]:
            res = [a - b for a, b in zip(qv, cents[cell])]
            luts = []
            for j, cb in enumerate(codebooks):
                sub = res[j * d_sub : (j + 1) * d_sub]
                by_cid = dict(cb)
                luts.append(
                    [
                        sum((sub[i] - by_cid[c][i]) ** 2 for i in range(d_sub))
                        for c in range(len(cb))
                    ]
                )
            lut_rows.append((int(r[0]), int(cell), luts))
    lut_df = spark.createDataFrame(
        lut_rows, "query_id long, cluster int, luts array<array<bigint>>"
    )
    adc = " + ".join(
        f"element_at(element_at(luts, {j + 1}), code_{j} + 1)" for j in range(m)
    )
    scored = (
        coded.join(F.broadcast(lut_df), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(adc).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
