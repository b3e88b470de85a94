"""Text-analysis query suite over ``documents`` (beyond-parity extension).

Every query is full-scan + project/aggregate — no shuffle except final
aggregations — and oracle-verified against DuckDB twins of the same
portable expressions (operators.text).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via module globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.money import avg_money, avg_money_sql
from ..operators import dedup as D
from ..operators import text as T
from ..session import persist
from .common import catalog
from .registry import register

_SCORES_SQL = T.lang_scores_sql(T.normalize_text_sql("text"))
_QUALITY_SQL = T.quality_metrics_sql("text")


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST({T.token_count_sql('text')} AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           n_chars AS n_chars_declared
    FROM documents
    """,
    tags=("text", "tokenize"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + declared-vs-measured length audit."""
    docs = catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        "lang",
        "source",
        T.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.col("n_chars").alias("n_chars_declared"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS declared_lang,
           {_SCORES_SQL['score_en']} AS score_en,
           {_SCORES_SQL['score_es']} AS score_es,
           {_SCORES_SQL['score_de']} AS score_de,
           {_SCORES_SQL['score_fr']} AS score_fr,
           {T.predicted_lang_sql(_SCORES_SQL)} AS predicted_lang
    FROM documents
    """,
    tags=("text", "lang-id"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (n-gram heuristic): per-language scores +
    deterministic argmax. A scan-speed first pass; a model-based classifier
    slots in via mapInPandas where accuracy matters."""
    docs = catalog(spark, sf_dir).documents
    norm = T.normalize_text("text")
    scores = T.lang_scores(norm)
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        *[scores[k].alias(k) for k in ("score_en", "score_es", "score_de", "score_fr")],
        T.predicted_lang(scores).alias("predicted_lang"),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           {_QUALITY_SQL['length']} AS length,
           {_QUALITY_SQL['n_tokens']} AS n_tokens,
           {_QUALITY_SQL['alpha_ratio']} AS alpha_ratio,
           {_QUALITY_SQL['stop_ratio']} AS stop_ratio,
           {_QUALITY_SQL['len_score']} AS len_score,
           {_QUALITY_SQL['quality']} AS quality
    FROM documents
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length/alpha/stopword signals blended to a
    0-1 score) — the filter stage of a training-data pipeline."""
    docs = catalog(spark, sf_dir).documents
    m = T.quality_metrics("text")
    return docs.select(
        "doc_id",
        m["length"].alias("length"),
        m["n_tokens"].alias("n_tokens"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["stop_ratio"].alias("stop_ratio"),
        m["len_score"].alias("len_score"),
        m["quality"].alias("quality"),
    )


@register(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           {T.fingerprint_sql('text')} AS fp,
           {T.prefix_fingerprint_sql('text')} AS prefix_fp
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + prefix fingerprints (md5-backed rolling identity) — the keys
    for exact and boilerplate dedup."""
    docs = catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.prefix_fingerprint("text").alias("prefix_fp"),
    )


@register(
    "quality_by_source",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           {avg_money_sql(_QUALITY_SQL['quality'], scale=4, out_scale=4)} AS avg_quality
    FROM documents
    GROUP BY source
    """,
    tags=("text", "aggregation"),
)
def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation view: documents + mean quality per source feed.
    The mean goes through exact scaled-integer summation (functions.money)
    so the distributed aggregation is order-independent."""
    docs = catalog(spark, sf_dir).documents
    m = T.quality_metrics("text")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        avg_money(m["quality"], scale=4, out_scale=4).alias("avg_quality"),
    )


@register(
    "text_bpe_token_stats",
    oracle=f"""
    SELECT doc_id, lang,
           {T.token_count_sql('text')} AS ws_tokens,
           {T.bpe_pretoken_count_sql('text')} AS bpe_pretokens,
           {T.pround_sql(
               f"CAST({T.bpe_pretoken_count_sql('text')} AS DOUBLE) / "
               f"{T.token_count_sql('text')}", 4)} AS fertility
    FROM documents
    """,
    tags=("text", "token-stats", "bpe"),
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under a BPE-style pretokenizer (simplified GPT-2
    pattern: letter runs | single digits | single punctuation) next to the
    whitespace baseline, plus their ratio — the "fertility" proxy corpus
    dashboards track to predict tokenizer cost per word before a trained
    tokenizer exists. Pure regexp_extract_all expressions, JVM-side, one
    scan, no shuffle."""
    docs = catalog(spark, sf_dir).documents
    ws = T.token_count("text")
    bpe = T.bpe_pretoken_count("text")
    from ..functions.rounding import pround

    return docs.select(
        "doc_id",
        "lang",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_pretokens"),
        pround(bpe.cast("double") / ws, 4).alias("fertility"),
    )


@register(
    "top_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split({T.normalize_text_sql('text')}, ' ')) AS token
      FROM documents
    )
    SELECT token, count(*) AS freq
    FROM tok WHERE token != ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
    tags=("text", "token-stats", "topk"),
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 tokens by frequency (explode ->
    map-side-combined count -> TakeOrderedAndProject; ties broken by token).
    The first diagnostic run on any new training corpus."""
    docs = catalog(spark, sf_dir).documents
    toks = F.explode(T.tokens(T.normalize_text("text"))).alias("token")
    return (
        docs.select(toks)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(20)
    )


@register(
    "token_stats_by_lang",
    oracle=f"""
    WITH tok AS (
      SELECT lang,
             unnest(string_split({T.normalize_text_sql('text')}, ' ')) AS token
      FROM documents
    )
    SELECT lang,
           count(*) AS total_tokens,
           count(DISTINCT token) AS distinct_tokens
    FROM tok WHERE token != ''
    GROUP BY lang
    """,
    tags=("text", "token-stats"),
)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token volume and vocabulary size — the corpus-balance
    dashboard numbers for multilingual training mixes."""
    docs = catalog(spark, sf_dir).documents
    toks = F.explode(T.tokens(T.normalize_text("text"))).alias("token")
    return (
        docs.select("lang", toks)
        .filter(F.col("token") != "")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.count_distinct("token").alias("distinct_tokens"),
        )
    )


_SPLIT_BUCKET = T.h60_sql("concat('split:', CAST(doc_id AS VARCHAR))")


@register(
    "corpus_train_test_split",
    oracle=f"""
    WITH b AS (
      SELECT lang,
             CASE WHEN {_SPLIT_BUCKET} % 100 < 80 THEN 'train' ELSE 'test' END
               AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n_docs
    FROM b GROUP BY lang, split
    """,
    tags=("text", "sampling", "split"),
)
def corpus_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/20 train/test split via content-independent hash
    bucketing: ``h60('split:' || doc_id) % 100``. Unlike ``sampleBy`` (RNG
    per partition -> changes with repartitioning), the hash split is a pure
    function of the id — stable across runs, engines, and cluster layouts,
    which is what a training-data lineage audit requires."""
    docs = catalog(spark, sf_dir).documents
    from ..functions.hashing import stable_bucket

    split = F.when(
        stable_bucket(F.col("doc_id"), 100, salt="split:") < 80, "train"
    ).otherwise("test")
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_MIX_BUCKET = T.h60_sql("concat('mix:', CAST(doc_id AS VARCHAR))")


@register(
    "mixture_downsample",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_MIX_BUCKET} % 100 <
          CASE WHEN source IN ('src0', 'src1', 'src2') THEN 100 ELSE 25 END
    """,
    tags=("text", "sampling", "mixture"),
)
def mixture_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-weighting: keep 100% of priority sources and
    a reproducible 25% hash-sample of the rest — the corpus-mixing step of a
    training-data pipeline, as a pure filter (pushups into the scan where
    the source column is a partition key)."""
    docs = catalog(spark, sf_dir).documents
    from ..functions.hashing import stable_bucket

    keep_pct = F.when(
        F.col("source").isin("src0", "src1", "src2"), F.lit(100)
    ).otherwise(F.lit(25))
    return docs.filter(
        stable_bucket(F.col("doc_id"), 100, salt="mix:") < keep_pct
    ).select("doc_id", "source")


_QUALITY = T.quality_metrics_sql("text")["quality"]
_SAMPLE_BUCKET = T.h60_sql("concat('sample:', CAST(doc_id AS VARCHAR))")


@register(
    "corpus_clean_train_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {T.h60_sql(T.normalize_text_sql('text'))} AS text_hash
      FROM documents
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY text_hash)
    SELECT d.doc_id, d.lang, {_QUALITY} AS quality
    FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
    WHERE {_QUALITY} >= 0.55
      AND {T.h60_sql("concat('split:', CAST(d.doc_id AS VARCHAR))")} % 100 < 80
    """,
    tags=("text", "pipeline", "dedup", "quality", "sampling"),
)
def corpus_clean_train_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-cleaning composition every training-data
    pipeline runs: exact-dedup to canonical keepers -> quality gate
    (blended score >= 0.55, keeps ~41% of the fixture) -> reproducible 80%
    train split by hash bucket. ONE corpus scan computes hash + quality and
    the keeper's attributes ride the dedup exchange via ``min_by`` (an
    earlier form joined keeper ids back to the corpus — a second full text
    scan just to recompute quality for the survivors; carrying ~20 bytes of
    (lang, quality) per doc through the shuffle is far cheaper than
    rereading 100 TB). The only shuffle is the keeper groupBy, and each
    stage is the already-verified operator (dedup_exact / text_quality /
    corpus_train_test_split) so the composition needs no new machinery."""
    from ..functions.hashing import stable_bucket

    docs = catalog(spark, sf_dir).documents
    quality = T.quality_metrics(F.col("text"))["quality"]
    base = docs.select(
        "doc_id",
        H.h60(T.normalize_text("text")).alias("text_hash"),
        F.struct("lang", quality.alias("quality")).alias("kv"),
    )
    keep = base.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("kv", F.col("doc_id")).alias("kv"),
    )
    return (
        keep.select("doc_id", F.col("kv.lang").alias("lang"), F.col("kv.quality").alias("quality"))
        .filter(
            (F.col("quality") >= 0.55)
            & (stable_bucket(F.col("doc_id"), 100, salt="split:") < 80)
        )
    )


@register(
    "stratified_sample_exact",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY {_SAMPLE_BUCKET}, doc_id
             ) AS INTEGER) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn FROM r WHERE rn <= 30
    """,
    tags=("text", "sampling", "stratified"),
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sampling: exactly min(30, n) docs per language,
    chosen by ranking on a content-independent hash — unlike
    fraction-based ``sampleBy`` the per-stratum count is guaranteed, and
    unlike RNG sampling the choice is a pure function of ids (stable across
    runs, engines, partition layouts). Plan shape: one shuffle on the
    stratum key, per-stratum top-k inside the window — no global sort."""
    from pyspark.sql import Window

    from ..functions.hashing import h60

    docs = catalog(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        h60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 30)
    )


@register(
    "text_bpe_token_stats_pandas",
    oracle=f"""
    SELECT doc_id, lang,
           {T.token_count_sql('text')} AS ws_tokens,
           {T.bpe_pretoken_count_sql('text')} AS bpe_pretokens,
           {T.pround_sql(
               f"CAST({T.bpe_pretoken_count_sql('text')} AS DOUBLE) / "
               f"{T.token_count_sql('text')}", 4)} AS fertility
    FROM documents
    """,
    tags=("text", "token-stats", "bpe", "pandas-udf", "demo"),
)
def text_bpe_token_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar ``@pandas_udf`` showcase: the same BPE-pretoken accounting
    as ``text_bpe_token_stats`` computed by Arrow-vectorized Python
    (``re.findall`` over a pandas Series) against the *same* oracle — the
    engine's demonstration that the vectorized-scalar-UDF machinery is
    value-correct, not just plumbed. This is the slot where a real trained
    tokenizer (tiktoken/HF) would drop in: batch-columnar transfer, one
    Python call per Arrow batch, never per row. Prefer the JVM regex twin
    whenever the expression is portable — this path exists for libraries
    that only speak Python."""
    import math
    import re

    from pyspark.sql.functions import pandas_udf

    bpe_re = re.compile(T._BPE_PATTERN)
    ws_re = re.compile(r"\s+")

    @pandas_udf("long")
    def ws_count(s: pd.Series) -> pd.Series:
        return s.map(lambda t: len(ws_re.split(t.strip())))

    @pandas_udf("long")
    def bpe_count(s: pd.Series) -> pd.Series:
        return s.map(lambda t: len(bpe_re.findall(t)))

    @pandas_udf("double")
    def fertility(bpe: pd.Series, ws: pd.Series) -> pd.Series:
        # identical double ops to pround(bpe/ws, 4): divide, scale, floor
        return (bpe / ws * 10000.0 + 0.5).map(math.floor) / 10000.0

    docs = catalog(spark, sf_dir).documents
    out = docs.select(
        "doc_id",
        "lang",
        ws_count("text").alias("ws_tokens"),
        bpe_count("text").alias("bpe_pretokens"),
    )
    return out.withColumn(
        "fertility", fertility(F.col("bpe_pretokens"), F.col("ws_tokens"))
    )


_NORM = T.normalize_text_sql("text")


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w WHERE w != '' GROUP BY doc_id, w),
    dw AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(max(c) AS BIGINT) AS top_word_count,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM wc GROUP BY doc_id
    ),
    g AS (SELECT doc_id, unnest({D.shingles_sql('text', 2)}) AS g FROM documents),
    gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
    dg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(max(c) AS BIGINT) AS top_bigram_count
      FROM gc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           {T.pround_sql('CAST(top_word_count AS DOUBLE) / n_tokens', 4)} AS top_word_frac,
           {T.pround_sql('CAST(n_distinct AS DOUBLE) / n_tokens', 4)} AS distinct_ratio,
           {T.pround_sql('CAST(top_bigram_count AS DOUBLE) / n_bigrams', 4)} AS top_bigram_frac
    FROM dw JOIN dg USING (doc_id)
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of tokens that
    are the single most frequent word, distinct-token ratio, and fraction of
    bigrams that are the most frequent bigram — the standard filters for
    degenerate/looping text in training-data curation (cf. Rae et al. 2021,
    "Scaling Language Models", repetition heuristics). Plan: explode words
    and bigrams, two partial-aggregated (doc_id, gram) counts, per-doc
    roll-ups joined on doc_id — shuffle keys are (doc_id, gram-hash)-sized,
    never raw text, and the whole thing is built-in expressions (zip_with
    shingles, no Python)."""
    from ..functions.rounding import pround
    from ..operators.dedup import shingles

    docs = catalog(spark, sf_dir).documents
    words = docs.select(
        "doc_id", F.explode(T.tokens(T.normalize_text("text"))).alias("w")
    ).filter(F.col("w") != "")
    dw = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_word_count"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    dg = (
        docs.select("doc_id", F.explode(shingles("text", 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_count"))
    )
    return dw.join(dg, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        pround(F.col("top_word_count").cast("double") / F.col("n_tokens"), 4).alias(
            "top_word_frac"
        ),
        pround(F.col("n_distinct").cast("double") / F.col("n_tokens"), 4).alias(
            "distinct_ratio"
        ),
        pround(
            F.col("top_bigram_count").cast("double") / F.col("n_bigrams"), 4
        ).alias("top_bigram_frac"),
    )


@register(
    "contamination_bench_overlap",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, {H.h60_sql('g')} AS gh
      FROM (SELECT doc_id, unnest({D.shingles_sql('text', 4)}) AS g FROM documents)
    ),
    bench AS (SELECT doc_id AS bench_id, gh FROM grams WHERE doc_id % 13 = 0),
    train AS (SELECT doc_id AS train_id, gh AS tgh FROM grams WHERE doc_id % 13 <> 0)
    SELECT bench_id,
           CAST(count(DISTINCT train_id) AS BIGINT) AS n_train_docs,
           CAST(count(train_id) AS BIGINT) AS n_matches
    FROM bench LEFT JOIN train ON gh = tgh
    GROUP BY bench_id
    """,
    tags=("text", "contamination", "inverted-index"),
)
def contamination_bench_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: for each held-out "benchmark" document
    (doc_id % 13 == 0 stands in for an eval set), count the training
    documents sharing at least one normalized word 4-gram and the total
    (train doc, shared gram) matches — the n-gram-overlap decontamination
    check training pipelines run before a corpus ships. Plan: ONE corpus
    scan and ONE wide shuffle — shingle-explode straight into a
    ``collect_set`` posting aggregation per 60-bit gram hash with bench and
    train ids gathered side by side. ``collect_set`` dedups (doc, gram)
    occurrences inside the aggregate, which is exactly what a separate
    ``.distinct()`` pre-pass bought — but the pre-pass was a second
    all-grams shuffle and measured 3x the cold wall (7.7s -> 2.4s at sf0.1;
    the two-branch join form it replaced scanned and exploded the corpus
    twice and was worse still). Only (id, hash) pairs shuffle, raw text
    never moves, and clean benchmark docs survive via explode_outer of
    their empty train postings (zero counts are the audit's point). Hot
    boilerplate grams bound the posting arrays — at scale they are
    df-capped the same way dedup_ngram_jaccard documents. The per-(bench,
    train) partial count then a plain roll-up avoids the Expand
    duplication a multi-distinct aggregate compiles to."""
    from ..functions.hashing import h60
    from ..operators.dedup import shingles

    docs = catalog(spark, sf_dir).documents
    grams = docs.select("doc_id", F.explode(shingles("text", 4)).alias("g")).select(
        "doc_id", h60(F.col("g")).alias("gh")
    )
    is_bench = F.col("doc_id") % 13 == 0
    posting = (
        grams.groupBy("gh")
        .agg(
            F.collect_set(F.when(is_bench, F.col("doc_id"))).alias("bench_ids"),
            F.collect_set(F.when(~is_bench, F.col("doc_id"))).alias("train_ids"),
        )
        .filter(F.size("bench_ids") > 0)
    )
    pairs = posting.select(
        F.explode("bench_ids").alias("bench_id"), "train_ids"
    ).select("bench_id", F.explode_outer("train_ids").alias("train_id"))
    per_pair = pairs.groupBy("bench_id", "train_id").agg(
        F.count("train_id").alias("c")
    )
    return per_pair.groupBy("bench_id").agg(
        F.count("train_id").alias("n_train_docs"),
        F.sum("c").alias("n_matches"),
    )


# ----------------------------------------------------- LM-coverage scoring

_REF_SOURCES = ("src0", "src1", "src2", "src3")
_REF_IN = "(" + ", ".join(f"'{s}'" for s in _REF_SOURCES) + ")"
_REF_MIN_DF = 2


@register(
    "text_bigram_coverage",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, source, {H.h60_sql('g')} AS gh
      FROM (SELECT doc_id, source, unnest({D.shingles_sql('text', 2)}) AS g
            FROM documents)
    ), ref AS (
      SELECT gh FROM grams WHERE source IN {_REF_IN}
      GROUP BY gh HAVING count(*) >= {_REF_MIN_DF}
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST((1000 * sum(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS cov_permille
    FROM grams g LEFT JOIN ref r ON g.gh = r.gh
    GROUP BY g.doc_id
    """,
    tags=("text", "lm-coverage", "quality", "inverted-index"),
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-corpus bigram coverage — the cheap, deterministic stand-in
    for LM-perplexity quality filtering: score every document by the share
    of its distinct word bigrams that appear in >= 2 documents of a curated
    reference subset (sources src0-src3 stand in for the wiki-grade slice).
    High coverage ~ fluent in-distribution prose; near-zero ~ gibberish,
    boilerplate, or wrong-language text — the classic KenLM-filter signal
    without the float log-probs that would break cross-engine bit-equality
    (coverage is pure set arithmetic; the permille score is integer
    division).

    Plan: ONE corpus scan, one shuffle on 8-byte gram hashes — the posting
    aggregation collects each gram's reference-doc ids (for the df >= 2
    membership test) and all doc ids side by side via ``collect_set``
    (which dedups (doc, gram) in-aggregate; same shape
    :func:`contamination_bench_overlap` measured 3x faster than a distinct
    pre-pass), then explodes back to (doc, covered?) pairs for the per-doc
    roll-up. Raw text never moves. At 100 TB the reference slice is the
    small curated corpus, so its gram set is a few GB of hashes — and the
    stop-gram posting arrays are df-capped exactly as
    :func:`dedup_ngram_jaccard` documents."""
    docs = catalog(spark, sf_dir).documents
    grams = docs.select(
        "doc_id",
        F.col("source").isin(*_REF_SOURCES).alias("is_ref"),
        F.explode(D.shingles("text", 2)).alias("g"),
    ).select("doc_id", "is_ref", H.h60(F.col("g")).alias("gh"))
    posting = grams.groupBy("gh").agg(
        F.collect_set(F.when(F.col("is_ref"), F.col("doc_id"))).alias("ref_ids"),
        F.collect_set("doc_id").alias("ids"),
    )
    exploded = posting.select(
        F.explode("ids").alias("doc_id"),
        (F.size("ref_ids") >= _REF_MIN_DF).alias("cov"),
    )
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("cov").cast("long")).alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_covered",
            F.expr("(1000 * n_covered) div n_bigrams").alias("cov_permille"),
        )
    )


from ..functions.hashing import stable_bucket_sql as _sbs

_PACK_SHARDS = 8
_PACK_CTX = 512
_PACK_ORD = T.h60_sql("concat('pack:', CAST(doc_id AS VARCHAR))")
_PACK_SHARD = _sbs("doc_id", _PACK_SHARDS, salt="packshard:")


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST({T.token_count_sql('text')} AS BIGINT) AS n_tokens,
             {_PACK_SHARD} AS shard,
             {_PACK_ORD} AS ord
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY shard ORDER BY ord, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_offset,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY shard ORDER BY ord, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {_PACK_CTX}) AS BIGINT) AS pack_id
    FROM t
    """,
    tags=("text", "sampling", "packing"),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign every document a deterministic shard
    and a token ``start_offset`` inside that shard's concatenated stream, so
    ``pack_id = start_offset // 512`` is the fixed-width context window the
    document starts in (split-anywhere packing, the layout most pretraining
    loaders use). Order within a shard is a salted hash of the id — a
    reproducible shuffle, not arrival order. Scale: the only shuffle is the
    shard partition itself, the running sum is a per-shard window (no global
    sort), and shard count is a knob — at 100 TB raise it until each shard's
    token stream fits one writer task."""
    from pyspark.sql import Window

    from ..functions.hashing import h60, stable_bucket

    docs = catalog(spark, sf_dir).documents
    t = docs.select(
        "doc_id",
        T.token_count("text").cast("long").alias("n_tokens"),
        stable_bucket(F.col("doc_id"), _PACK_SHARDS, salt="packshard:").alias("shard"),
        h60(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias("ord"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / _PACK_CTX).cast("long").alias("pack_id"),
    )


_EPOCH_SHARDS = 16


@register(
    "corpus_epoch_shuffle",
    oracle=f"""
    WITH e AS (
      SELECT doc_id, epoch,
             CAST({T.h60_sql("concat('epoch', CAST(epoch AS VARCHAR), ':', CAST(doc_id AS VARCHAR))")}
                  AS BIGINT) AS ord
      FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS epoch)
    )
    SELECT doc_id, epoch,
           CAST(ord % {_EPOCH_SHARDS} AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY epoch, ord % {_EPOCH_SHARDS}
                  ORDER BY ord, doc_id) AS BIGINT) AS pos
    FROM e
    """,
    tags=("text", "sampling", "shuffle"),
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle: each epoch salts the hash, so
    (shard, pos) is a fresh pseudo-random permutation per epoch yet exactly
    reproducible — the property a resumable training loader needs (seek to
    (epoch, shard, pos) without materializing an order column). The
    permutation is a pure function of (epoch, doc_id): no RNG state, no
    dependence on partition layout. Scale: row_number windows are per
    (epoch, shard) — shard count bounds the window partition size, and the
    epoch fan-out is a row-multiplying projection, not a join."""
    from pyspark.sql import Window

    from ..functions.hashing import h60

    docs = catalog(spark, sf_dir).documents
    e = docs.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("epoch")
    ).select(
        "doc_id",
        "epoch",
        h60(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("ord"),
    )
    shard = (F.col("ord") % _EPOCH_SHARDS).cast("int")
    w = Window.partitionBy("epoch", shard).orderBy("ord", "doc_id")
    return e.select(
        "doc_id",
        "epoch",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# Deterministic PII lacing: the synthetic corpus has no organic emails/phones/
# IPs, so the query seeds one of each per document as a pure function of
# doc_id — identically in Spark and the oracle — and the redaction machinery
# is then verified against real matches, not vacuous zero counts.
_PII_TEXT_SQL = (
    "concat(text, ' Contact: user', CAST(doc_id AS VARCHAR), "
    "'@example.com from host 10.', CAST(doc_id % 256 AS VARCHAR), '.0.', "
    "CAST(doc_id % 250 AS VARCHAR), ' or call +1-555-', "
    "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), '.')"
)

_PII_COUNTS_SQL = T.pii_counts_sql("pii_text")


@register(
    "text_pii_redact",
    oracle=f"""
    WITH laced AS (
      SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents
    )
    SELECT doc_id,
           {_PII_COUNTS_SQL['n_emails']} AS n_emails,
           {_PII_COUNTS_SQL['n_phones']} AS n_phones,
           {_PII_COUNTS_SQL['n_ipv4']} AS n_ipv4,
           {T.h60_sql(T.redact_pii_sql('pii_text'))} AS redacted_fp,
           CAST(length({T.redact_pii_sql('pii_text')}) AS BIGINT) AS redacted_len
    FROM laced
    """,
    tags=("text", "pii", "redaction"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII sweep over the corpus: per-category match counts (emails, phones,
    dotted-quad IPs) plus a fingerprint and length of the redacted text —
    the scrubbing stage every training-data pipeline runs before text ships.
    Patterns are portable character-class regexes (operators.text.PII_PATTERNS)
    applied in a fixed order, all built-in ``regexp_*`` expressions: one scan,
    zero shuffle, whole-stage codegen — at 100 TB this runs at parquet-scan
    speed and the redacted text would be written back out columnar, never
    collected. The redacted output is verified by 60-bit fingerprint so the
    driver compares content, not just counts."""
    from ..functions.hashing import h60

    docs = catalog(spark, sf_dir).documents
    d = F.col("doc_id")
    laced = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            d.cast("string"),
            F.lit("@example.com from host 10."),
            (d % 256).cast("string"),
            F.lit(".0."),
            (d % 250).cast("string"),
            F.lit(" or call +1-555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("pii_text"),
    )
    counts = T.pii_counts("pii_text")
    redacted = T.redact_pii("pii_text")
    return laced.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ipv4"].alias("n_ipv4"),
        h60(redacted).alias("redacted_fp"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


_QSAMP_RES = 1_000_000


@register(
    "quality_weighted_sample",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, {_QUALITY_SQL['quality']} AS quality
      FROM documents
    )
    SELECT doc_id, source, quality
    FROM q
    WHERE {T.h60_sql("concat('qsamp:', CAST(doc_id AS VARCHAR))")} % {_QSAMP_RES}
          < CAST(FLOOR(quality * {_QSAMP_RES}) AS BIGINT)
    """,
    tags=("text", "sampling", "quality"),
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli sampling: keep each document with
    probability equal to its heuristic quality score (soft filtering — the
    FineWeb-style alternative to a hard threshold, which keeps some mass of
    mid-quality text instead of a cliff). The coin is a salted hash of the
    id, so the sample is a pure function of (doc_id, quality): reproducible
    across runs, engines, and partition layouts, and the predicate is a
    scan-level filter — no shuffle, no RNG state, auditable per row."""
    from ..functions.hashing import h60

    docs = catalog(spark, sf_dir).documents
    quality = T.quality_metrics("text")["quality"]
    coin = h60(F.concat(F.lit("qsamp:"), F.col("doc_id").cast("string"))) % _QSAMP_RES
    return docs.select(
        "doc_id", "source", quality.alias("quality")
    ).filter(coin < F.floor(F.col("quality") * _QSAMP_RES).cast("long"))


_BUDGET_ORD = H.h60_sql("concat('budget:', CAST(doc_id AS VARCHAR))")


@register(
    "mixture_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             {T.token_count_sql('text')} AS n_tokens,
             {_BUDGET_ORD} AS ord
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c WHERE cum <= 800
    """,
    tags=("text", "sampling", "mixture", "token-budget"),
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: each source contributes documents in
    deterministic hash order until its token budget (800 here) is spent —
    how training mixtures are actually specified (token counts, not doc
    counts; cf. ``mixture_downsample`` for the rate-based form). The hash
    order makes the greedy cut reproducible across runs, engines, and
    partition layouts, and unbiased w.r.t. document position in the source.
    Plan: one scan computes (tokens, order-hash); one shuffle on source
    serves the running-sum window; the budget predicate is a post-window
    filter. At 100 TB each source's running sum is a single window
    partition — sources are the unit of parallelism, which matches the
    real workload (mixtures have tens of sources, each huge; for a
    pathological single mega-source, pre-aggregate per hash-bucket and
    budget buckets instead)."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    t = docs.select(
        "doc_id",
        "source",
        T.token_count("text").alias("n_tokens"),
        H.h60(F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))).alias(
            "ord"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= 800)
        .select("doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens"))
    )


@register(
    "text_chunks_udtf",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents WHERE doc_id % 50 = 0
    )
    SELECT doc_id, CAST(pos // 12 AS INT) AS chunk_no,
           string_agg(tok, ' ' ORDER BY pos) AS chunk
    FROM toks GROUP BY doc_id, pos // 12
    """,
    tags=("text", "udtf", "python-surface"),
)
def text_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF surface (the last Python-API flavor the engine
    covers: scalar/grouped/cogrouped/mapInPandas/mapInArrow/stateful are
    JVM-oracled elsewhere): a table function exploding each document into
    12-token chunks via ``DataFrame.lateralJoin`` (the correlated column is
    marked with ``.outer()``; no temp view, no SQL string, no session-state
    side effects).

    UDTFs are row-at-a-time Python — the SLOW path, registered here as the
    API-surface demonstration on a 2% document sample; the production
    chunker is the JVM expression pipeline in ``dedup_span_chunks`` (same
    chunking semantics, zero Python). The split mirrors the oracle's
    single-space rule exactly (``text.split(" ")``, not ``str.split()``,
    which would silently merge runs of whitespace)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, chunk string")
    class ChunkText:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), 12):
                yield i // 12, " ".join(toks[i : i + 12])

    docs = catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 50 == 0)
    return docs.lateralJoin(ChunkText(F.col("text").outer())).select(
        "doc_id", "chunk_no", "chunk"
    )


@register(
    "text_oov_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({T.normalize_text_sql('text')}, ' ')) AS w
      FROM documents
    ),
    t2 AS (SELECT doc_id, w FROM tok WHERE w != ''),
    cnts AS (SELECT w, count(*) AS cnt FROM t2 GROUP BY w),
    vocab AS (SELECT w, 1 AS in_vocab FROM cnts ORDER BY cnt DESC, w LIMIT 1000)
    SELECT t2.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_n,
           {T.pround_sql(
               'CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 4)} AS oov_frac,
           CAST(sum(64 - length(bin(c.cnt))) AS BIGINT) AS rarity_score
    FROM t2 JOIN cnts c ON c.w = t2.w LEFT JOIN vocab v ON v.w = t2.w
    GROUP BY t2.doc_id
    """,
    tags=("text", "quality", "oov", "idf"),
)
def text_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-based quality signals, integer-exact end to end: per-doc
    out-of-vocabulary rate against the corpus top-1000 vocabulary
    (deterministic tie-break: count desc, token asc) and an IDF-CLASS
    rarity score — each token weighted by ``64 - len(bin(count))``, i.e.
    ``63 - floor(log2(count))``, the integer frequency class. The log2
    class replaces float ``log`` deliberately: libm and JVM ``log`` are not
    correctly-rounded and can disagree in the last ulp, while binary-string
    length is exact on every engine — same reasoning as the money kernels.

    Scale shape: the vocabulary head (1000 rows) broadcasts; the
    token->count join shuffles by token hash (at 100 TB the count table is
    corpus-vocabulary-sized — this is the standard inverted-frequency join,
    co-partitioned with the token explode). OOV rate and rarity together
    are the cheap first-pass quality gate (CCNet-style) before any model
    scoring touches the corpus."""
    docs = catalog(spark, sf_dir).documents
    toks = (
        docs.select(
            "doc_id",
            F.explode(T.tokens(T.normalize_text("text"))).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), "w")
        .limit(1000)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        toks.join(counts, "w")
        .join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_n"),
            F.sum(F.lit(64) - F.length(F.bin("cnt"))).alias("rarity_score"),
        )
    )
    from ..functions.rounding import pround

    return per_doc.select(
        "doc_id",
        "n_tokens",
        "oov_n",
        pround(F.col("oov_n").cast("double") / F.col("n_tokens"), 4).alias(
            "oov_frac"
        ),
        "rarity_score",
    )


_CLEAN_SQL = T.clean_html_sql("text")


@register(
    "text_clean_html",
    oracle=f"""
    SELECT doc_id,
           CAST(length({_CLEAN_SQL}) AS BIGINT) AS clean_len,
           {T.h60_sql(_CLEAN_SQL)} AS clean_fp,
           CAST(length(text) - length({_CLEAN_SQL}) AS BIGINT) AS removed_chars
    FROM documents
    """,
    tags=("text", "cleaning", "html", "boilerplate"),
)
def text_clean_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-stage HTML cleaning as a verifiable column pipeline: tag
    strip, entity decode, control-char strip, whitespace collapse
    (:func:`..operators.text.clean_html`) — the first stage every
    web-crawl corpus passes through before quality scoring or dedup. The
    output pins the cleaned text per document by length AND 60-bit
    fingerprint, so the oracle checks the transformation byte-for-byte, not
    just its shape. The fixture text contains no markup (the pipeline is a
    near-no-op here); `tests/test_text_cleaning.py` drives the same
    Spark/DuckDB expression pair over constructed HTML where every rule
    fires. Pure codegen expressions: at 100 TB this runs at scan speed with
    zero shuffle and zero Python."""
    docs = catalog(spark, sf_dir).documents
    cleaned = T.clean_html("text")
    return docs.select(
        "doc_id",
        F.length(cleaned).cast("long").alias("clean_len"),
        T.h60(cleaned).alias("clean_fp"),
        (F.length("text") - F.length(cleaned)).cast("long").alias("removed_chars"),
    )


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH pre AS (
      SELECT unnest(regexp_extract_all(text, '{T._BPE_PATTERN}')) AS tok
      FROM documents
    ), v AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS w FROM pre GROUP BY tok
    ), p AS (
      SELECT substring(v.tok, g.i, 2) AS pair, v.w
      FROM v CROSS JOIN LATERAL
           (SELECT unnest(range(1, length(v.tok))) AS i) g
      WHERE length(v.tok) >= 2
    )
    SELECT pair, CAST(sum(w) AS BIGINT) AS weight
    FROM p GROUP BY pair ORDER BY weight DESC, pair LIMIT 20
    """,
    tags=("text", "tokenizer-training", "bpe", "top-k"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: the 20 most frequent
    adjacent character pairs, weighted by pretoken frequency. The scale
    trick is the classic one — aggregate the corpus to its pretoken VOCAB
    first (one shuffle of (pretoken, count)), then explode character pairs
    over distinct pretokens only: pair generation touches vocab-sized data
    however large the corpus, which is why real BPE trainers operate on a
    word-frequency dict. Pair extraction is ``transform(sequence(...),
    i -> substring(tok, i, 2))`` — codegen, no UDF; both engines index
    substrings 1-based so the oracle replays it exactly. (The length >= 2
    guard also keeps Spark's ``sequence(1, 0)`` from generating its
    DESCENDING [1, 0] sequence for single-char pretokens.)"""
    docs = catalog(spark, sf_dir).documents
    pre = docs.select(F.explode(T.bpe_pretokens("text")).alias("tok"))
    vocab = pre.groupBy("tok").agg(F.count(F.lit(1)).alias("w"))
    pairs = vocab.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "w",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("w").alias("weight"))
        .orderBy(F.desc("weight"), "pair")
        .limit(20)
    )


# ------------------------------------------------------ BPE merge training

_BPE_N_MERGES = 6


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled DuckDB twin of the n-merge BPE training loop. Each level is
    fully self-computing (the argmax pair feeds the next level's replace
    via scalar subqueries) — no literals, no Python in the loop."""
    parts = [
        f"""WITH pre AS (
      SELECT unnest(regexp_extract_all(text, '{T._BPE_PATTERN}')) AS tok
      FROM documents
    ), w0 AS (
      SELECT regexp_replace(tok, '(.)', ' \\1 ', 'g') AS seq,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pre GROUP BY 1
    )"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", p{k} AS (
      SELECT t.s[g.i] AS l, t.s[g.i + 1] AS r, CAST(sum(t.cnt) AS BIGINT) AS n
      FROM (SELECT string_split(trim(seq), '  ') AS s, cnt FROM w{k}) t
      CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.s))) AS i) g
      GROUP BY 1, 2
    ), b{k} AS (
      SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1
    )"""
        )
        if k < n_merges - 1:
            parts.append(
                f""", w{k + 1} AS (
      SELECT replace(seq, (SELECT ' ' || l || '  ' || r || ' ' FROM b{k}),
                          (SELECT ' ' || l || r || ' ' FROM b{k})) AS seq,
             cnt
      FROM w{k}
    )"""
            )
    sel = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"n AS pair_n FROM b{k}"
        for k in range(n_merges)
    )
    return "".join(parts) + "\n    " + sel


def _bpe_pair_counts_of(words: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over a (seq, cnt) word table."""
    s = F.split(F.trim(F.col("seq")), "  ")
    n_pairs = F.greatest(F.size(s) - 1, F.lit(0))
    prs = F.zip_with(
        F.slice(s, 1, n_pairs),
        F.slice(s, 2, n_pairs),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        words.select(F.explode(prs).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("n"))
    )


def _bpe_apply_merge(words: DataFrame, best: DataFrame) -> DataFrame:
    """Apply the argmax merge to every word: leftmost-greedy non-overlapping
    pair fusion, as a literal ``replace`` over the double-space-wrapped
    symbol encoding (each symbol is stored as ``' sym '``, so the pattern
    ``' l  r '`` matches exactly one adjacent (l, r) symbol boundary and
    ``replace``'s leftmost-non-overlapping scan IS the BPE greedy rule).
    Non-``seq`` columns (e.g. ``source`` in the per-source encode table)
    pass through untouched."""
    pat = F.concat(F.lit(" "), F.col("l"), F.lit("  "), F.col("r"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" "))
    others = [c for c in words.columns if c != "seq"]
    return words.crossJoin(F.broadcast(best)).select(
        F.replace(F.col("seq"), pat, rep).alias("seq"), *others
    )


@register(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(_BPE_N_MERGES),
    tags=("text", "tokenizer-training", "bpe", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, the real iterative loop: run
    six merge rounds and emit the learned merge table (rank, left symbol,
    right symbol, winning pair count) — exactly what a tokenizer ships.
    (round count set by ``_BPE_N_MERGES``). Each round counts
    adjacent-symbol pairs weighted by word frequency, picks the global
    argmax (ties broken lexicographically), and fuses that pair in every
    word before the next round.

    Spark-first shape, NO driver loop: the whole training run is ONE
    declarative DAG. The corpus collapses once into its pretoken VOCAB
    (the only corpus-sized shuffle — the same word-frequency-dict trick
    every real BPE trainer uses, so round cost is vocab-bound however
    large the corpus); each round's argmax is a TakeOrdered(1) over pair
    partials, and the merge applies through a BROADCAST of that 1-row
    winner into a literal ``replace`` — data-dependent control flow
    expressed as a join, not a ``collect``. Symbols live in a
    double-space-wrapped string encoding (``' l  r ' -> ' lr '``) whose
    leftmost-non-overlapping ``replace`` is precisely BPE's greedy fusion
    rule, identical in both engines (fixtures are BMP-only, so Java's
    UTF-16 ``.`` and RE2's rune ``.`` agree on the initial char split).
    The DuckDB oracle replays all rounds self-computingly (scalar
    subqueries feed each winner into the next level) — the full training
    loop, not just round one, is value-hash-verified. Plan depth doubles
    per round (each level embeds its predecessor twice), so merges-per-
    job should stay O(10); production trainers checkpoint the word table
    every ~8 rounds, which is the persist already guarding the vocab
    aggregation here."""
    docs = catalog(spark, sf_dir).documents
    pre = docs.select(F.explode(T.bpe_pretokens("text")).alias("tok"))
    words = persist(
        pre.groupBy(
            F.regexp_replace("tok", "(.)", " $1 ").alias("seq")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    parts: list[DataFrame] = []
    for k in range(_BPE_N_MERGES):
        # Lineage MUST be truncated per round: the broadcast-winner join
        # embeds each round's plan in the next, so the analyzed plan (and
        # the task binaries Spark ships) doubles per round — measured 23 s
        # of mostly Catalyst/scheduling at sf0.01 without truncation, 2 s
        # with. localCheckpoint materializes the vocab-bounded word table
        # and cuts the plan back to a scan (the same move
        # operators/graph.py documents for label propagation).
        best = (
            _bpe_pair_counts_of(words)
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .localCheckpoint()
        )
        parts.append(
            best.select(
                F.lit(k).alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("n").alias("pair_n"),
            )
        )
        if k < _BPE_N_MERGES - 1:
            words = _bpe_apply_merge(words, best).localCheckpoint()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _bpe_encode_oracle(n_merges: int) -> str:
    """DuckDB twin of :func:`bpe_encode_fertility`: replay the unrolled
    training levels (identical to :func:`_bpe_train_oracle`), then thread a
    per-SOURCE word table through the same six wrapped-replace merges and
    reduce to fertility. Self-computing — each level's argmax feeds the
    next via scalar subqueries, no literals."""
    parts = [
        f"""WITH pre AS (
      SELECT source, unnest(regexp_extract_all(text, '{T._BPE_PATTERN}')) AS tok
      FROM documents
    ), sw0 AS (
      SELECT source, regexp_replace(tok, '(.)', ' \\1 ', 'g') AS seq,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pre GROUP BY 1, 2
    ), w0 AS (
      SELECT seq, CAST(sum(cnt) AS BIGINT) AS cnt FROM sw0 GROUP BY seq
    )"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", p{k} AS (
      SELECT t.s[g.i] AS l, t.s[g.i + 1] AS r, CAST(sum(t.cnt) AS BIGINT) AS n
      FROM (SELECT string_split(trim(seq), '  ') AS s, cnt FROM w{k}) t
      CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.s))) AS i) g
      GROUP BY 1, 2
    ), b{k} AS (
      SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1
    ), sw{k + 1} AS (
      SELECT source,
             replace(seq, (SELECT ' ' || l || '  ' || r || ' ' FROM b{k}),
                          (SELECT ' ' || l || r || ' ' FROM b{k})) AS seq,
             cnt
      FROM sw{k}
    )"""
        )
        if k < n_merges - 1:
            parts.append(
                f""", w{k + 1} AS (
      SELECT replace(seq, (SELECT ' ' || l || '  ' || r || ' ' FROM b{k}),
                          (SELECT ' ' || l || r || ' ' FROM b{k})) AS seq,
             cnt
      FROM w{k}
    )"""
            )
    parts.append(
        f""", enc AS (
      SELECT source, CAST(len(string_split(trim(seq), '  ')) AS BIGINT)
               AS n_syms, cnt
      FROM sw{n_merges}
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * n_syms) AS BIGINT) AS n_tokens,
           CAST((1000 * sum(cnt * n_syms)) // sum(cnt) AS BIGINT)
             AS fertility_permille
    FROM enc GROUP BY source"""
    )
    return "".join(parts)


@register(
    "bpe_encode_fertility",
    oracle=_bpe_encode_oracle(_BPE_N_MERGES),
    tags=("text", "tokenizer", "bpe", "encode", "iterative"),
)
def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE under the trained tokenizer — the step every real pipeline
    runs after :func:`bpe_train_merges`: apply the six learned merges, in
    rank order, to the whole corpus and report per-source fertility
    (trained-BPE tokens per pretoken word, exact integer permille). The
    number that says which source will cost more sequence length per word
    at training time — the trained-tokenizer twin of
    ``text_bpe_token_stats``'s pretokenizer fertility.

    Spark-first shape, same discipline as training: the corpus collapses
    ONCE into a per-(source, pretoken) frequency table (the only
    corpus-sized shuffle; encode cost is then sources x vocab however
    large the corpus — the word-frequency-dict trick applied to encoding
    too). Training replays on the source-marginalized vocab (identical
    argmax DAG to ``bpe_train_merges``, so both queries learn the SAME
    merge table), and each 1-row winner broadcasts into the literal
    wrapped-``replace`` fusion — encoding IS the training operator
    re-applied, which is exactly BPE's contract. The TRAINING loop
    localCheckpoints per round (its lineage embeds each round's plan in
    the next — the documented doubling); the ENCODE chain does NOT: the
    six winners are already truncated 1-row frames, so composing their
    replaces over the per-source table is a LINEAR plan — one job, six
    tiny broadcast joins, no per-round materialization. The oracle
    replays training AND encoding self-computingly, so the fertility
    table is value-hash-verified end to end."""
    docs = catalog(spark, sf_dir).documents
    pre = docs.select(
        "source", F.explode(T.bpe_pretokens("text")).alias("tok")
    )
    swords = persist(
        pre.groupBy(
            "source", F.regexp_replace("tok", "(.)", " $1 ").alias("seq")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = (
        swords.groupBy("seq").agg(F.sum("cnt").alias("cnt")).localCheckpoint()
    )
    enc = swords.select("seq", "source", "cnt")
    for k in range(_BPE_N_MERGES):
        best = (
            _bpe_pair_counts_of(words)
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .localCheckpoint()
        )
        enc = _bpe_apply_merge(enc, best)
        if k < _BPE_N_MERGES - 1:
            words = _bpe_apply_merge(words, best).localCheckpoint()
    n_syms = F.size(F.split(F.trim(F.col("seq")), "  ")).cast("long")
    return (
        enc.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * n_syms).alias("n_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            F.expr("(1000 * n_tokens) div n_words").alias(
                "fertility_permille"
            ),
        )
    )


# ----------------------------------------------------- filter-cascade funnel

# C4/Gopher-style keep rules in cascade order: (name, SQL predicate over the
# quality_metrics columns). The Spark side evaluates the same predicates via
# expr() over identically-named columns, so both engines share one rule list.
_FUNNEL_RULES = [
    ("min_length", "length >= 150"),
    ("alpha_ratio", "alpha_ratio >= 0.82"),
    ("stop_ratio", "stop_ratio >= 0.04"),
    ("quality_score", "quality >= 0.50"),
]


def _funnel_oracle() -> str:
    m = T.quality_metrics_sql("text")
    msel = ", ".join(f"{v} AS {k}" for k, v in m.items())
    flags = ", ".join(
        f"({pred}) AS r{i}" for i, (_, pred) in enumerate(_FUNNEL_RULES)
    )
    aggs = ["CAST(count(*) AS BIGINT) AS total"]
    for i in range(len(_FUNNEL_RULES)):
        cum = " AND ".join(f"r{j}" for j in range(i)) or "TRUE"
        aggs.append(
            f"CAST(sum(CASE WHEN NOT r{i} THEN 1 ELSE 0 END) AS BIGINT) AS fa{i}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {cum} AND NOT r{i} THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS d{i}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {cum} THEN 1 ELSE 0 END) AS BIGINT) AS in{i}"
        )
    rows = []
    for i, (name, _) in enumerate(_FUNNEL_RULES):
        rows.append(
            f"SELECT {i} AS rule_idx, '{name}' AS rule, in{i} AS n_input, "
            f"fa{i} AS n_failing_alone, d{i} AS n_dropped, "
            f"in{i} - d{i} AS n_surviving FROM a"
        )
    return (
        f"WITH m AS (SELECT {msel} FROM documents), "
        f"f AS (SELECT {flags} FROM m), "
        f"a AS (SELECT {', '.join(aggs)} FROM f) "
        + " UNION ALL ".join(rows)
    )


@register(
    "quality_filter_funnel",
    oracle=_funnel_oracle(),
    tags=("text", "quality", "filter-cascade", "dashboard"),
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter-cascade attribution report every C4/Gopher-style cleaning
    pipeline publishes before anyone trusts its output: for each keep-rule
    in cascade order, how many documents entered the stage, how many the
    rule fails CORPUS-WIDE (order-independent attribution), how many it
    dropped at its cascade position, and how many survived into the next
    stage. The numbers that decide whether a rule is load-bearing or dead
    weight, and which ordering loses the least good data. ONE corpus scan:
    every rule flag and every cumulative conjunction reduces in a single
    map-side-combined aggregation to one row (no joins, no second pass —
    at 100 TB re-scanning per rule is the difference between one pass and
    |rules| passes); the per-rule rows then unpivot from that one-row
    aggregate. Rule predicates are shared verbatim (one list drives both
    engines), so the report is value-hash-verified end to end."""
    docs = catalog(spark, sf_dir).documents
    m = T.quality_metrics(F.col("text"))
    flagged = docs.select(*[v.alias(k) for k, v in m.items()]).select(
        *[
            F.expr(pred).alias(f"r{i}")
            for i, (_, pred) in enumerate(_FUNNEL_RULES)
        ]
    )
    aggs = [F.count(F.lit(1)).alias("total")]
    for i in range(len(_FUNNEL_RULES)):
        cum = F.lit(True)
        for j in range(i):
            cum = cum & F.col(f"r{j}")
        aggs.append(
            F.sum((~F.col(f"r{i}")).cast("long")).alias(f"fa{i}")
        )
        aggs.append(
            F.sum((cum & ~F.col(f"r{i}")).cast("long")).alias(f"d{i}")
        )
        aggs.append(F.sum(cum.cast("long")).alias(f"in{i}"))
    a = flagged.agg(*aggs)
    rows = None
    for i, (name, _) in enumerate(_FUNNEL_RULES):
        r = a.select(
            F.lit(i).alias("rule_idx"),
            F.lit(name).alias("rule"),
            F.col(f"in{i}").alias("n_input"),
            F.col(f"fa{i}").alias("n_failing_alone"),
            F.col(f"d{i}").alias("n_dropped"),
            (F.col(f"in{i}") - F.col(f"d{i}")).alias("n_surviving"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


# ------------------------------------------------ end-to-end corpus pipeline

_STAGE_QUALITY_MIN = 0.50
_STAGE_EST_MIN = 12       # near-dup := >= 12 of 16 MinHash components agree
_STAGE_TRAIN_BUCKETS = 8  # of 10 -> 80% train split


def _stage_report_oracle() -> str:
    from .dedupq import _BANDS_CTE, _EST_MATCH_SQL, _LSH_CAP

    q = T.quality_metrics_sql("text")["quality"]
    bucket = H.stable_bucket_sql("b.doc_id", 10, salt="traintest:")
    return f"""{_BANDS_CTE},
    meta AS (
      SELECT b.doc_id, {H.h60_sql('b.norm')} AS th,
             CAST({T.token_count_sql('d.text')} AS BIGINT) AS nt,
             {q} AS quality, {bucket} AS bkt
      FROM base b JOIN documents d ON d.doc_id = b.doc_id
    ),
    k1 AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY th ORDER BY doc_id) AS rn
        FROM meta
      ) WHERE rn = 1
    ),
    bands1 AS (
      SELECT doc_id, band_idx, band_hash FROM bands
      WHERE doc_id IN (SELECT doc_id FROM k1)
      QUALIFY row_number() OVER (
        PARTITION BY band_idx, band_hash ORDER BY doc_id) <= {_LSH_CAP}
    ),
    pairs2 AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands1 a JOIN bands1 b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    drop2 AS (
      SELECT DISTINCT p.db AS doc_id
      FROM pairs2 p JOIN mh ma ON ma.doc_id = p.da
                    JOIN mh mb ON mb.doc_id = p.db
      WHERE {_EST_MATCH_SQL} >= {_STAGE_EST_MIN}
    ),
    k2 AS (SELECT doc_id FROM k1 WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
    k3 AS (SELECT m.doc_id FROM meta m JOIN k2 USING (doc_id)
           WHERE m.quality >= {_STAGE_QUALITY_MIN}),
    k4 AS (SELECT m.doc_id FROM meta m JOIN k3 USING (doc_id)
           WHERE m.bkt < {_STAGE_TRAIN_BUCKETS})
    SELECT 0 AS stage_idx, 'raw' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens FROM meta
    UNION ALL SELECT 1, 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(nt) AS BIGINT) FROM meta JOIN k1 USING (doc_id)
    UNION ALL SELECT 2, 'near_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(nt) AS BIGINT) FROM meta JOIN k2 USING (doc_id)
    UNION ALL SELECT 3, 'quality_gate', CAST(count(*) AS BIGINT),
           CAST(sum(nt) AS BIGINT) FROM meta JOIN k3 USING (doc_id)
    UNION ALL SELECT 4, 'train_sample', CAST(count(*) AS BIGINT),
           CAST(sum(nt) AS BIGINT) FROM meta JOIN k4 USING (doc_id)
    """


@register(
    "llm_corpus_stage_report",
    oracle=_stage_report_oracle(),
    tags=("text", "pipeline", "dedup", "quality", "dashboard"),
)
def llm_corpus_stage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole preprocessing pipeline as ONE report — the per-stage
    document/token survival table a training-data run publishes: raw ->
    exact dedup (min-id keeper per content hash) -> near-dup suppression
    (drop the larger id of any surviving pair that shares an LSH band AND
    agrees on >= 12/16 MinHash components — pairwise suppression; the
    transitive-closure variant is :func:`...dedupq.dedup_components`) ->
    quality gate (blended score >= 0.50) -> reproducible 80% train split.
    Every stage reuses a verified kernel (content hash, MinHash bands,
    quality metrics, hash bucketing), so this is the composition audit:
    one green row proves the stages compose without re-deriving any of
    them. The near-dup stage runs the CAPPED band join (posting lists
    truncated to 64 id-smallest docs — the deterministic hot-band guard,
    replayed identically by the oracle), so the registered query IS the
    production shape, not a fixture-only simplification. Shape: ONE corpus scan builds (hash, tokens, quality, bucket)
    per doc; the signature table builds once and serves both the band
    join and the component-agreement test; stage sets are id-only
    DataFrames (8 bytes/doc), so the report costs the dedup pipeline plus
    five tiny aggregates. Counts are monotone non-increasing by
    construction (pinned by test)."""
    from pyspark.sql import Window

    from ..operators.dedup import cap_posting_lists, lsh_bands, minhash_table
    from .dedupq import _LSH_CAP

    docs = catalog(spark, sf_dir).documents
    meta = persist(docs.select(
        "doc_id",
        H.h60(T.normalize_text("text")).alias("th"),
        T.token_count("text").alias("nt"),
        T.quality_metrics(F.col("text"))["quality"].alias("quality"),
        H.stable_bucket(F.col("doc_id"), 10, salt="traintest:").alias("bkt"),
    ))

    w = Window.partitionBy("th").orderBy("doc_id")
    k1 = (
        meta.select("doc_id", "th")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )

    sig = persist(minhash_table(docs).join(k1, "doc_id"))
    # PRODUCTION near-dup shape (VERDICT r5 #1): hot-band posting lists are
    # truncated to their 64 id-smallest members before the self-join — the
    # deterministic cap the oracle replays with an identical QUALIFY cut.
    # At fixture scale (max bucket 4) output is unchanged; at 100x docs this
    # was the composition family's only superlinear term (25x wall).
    banded = cap_posting_lists(
        lsh_bands(sig, n_bands=4, rows_per_band=4), cap=_LSH_CAP
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    a_sig = sig.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(16)],
    )
    b_sig = sig.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(16)],
    )
    est = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(16)
    )
    drop2 = (
        pairs.join(a_sig, "da")
        .join(b_sig, "db")
        .filter(est >= _STAGE_EST_MIN)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    k2 = k1.join(drop2, "doc_id", "left_anti")
    k3 = meta.join(k2, "doc_id").filter(
        F.col("quality") >= _STAGE_QUALITY_MIN
    ).select("doc_id")
    k4 = meta.join(k3, "doc_id").filter(
        F.col("bkt") < _STAGE_TRAIN_BUCKETS
    ).select("doc_id")

    def stage(idx: int, name: str, ids) -> DataFrame:
        src = meta if ids is None else meta.join(ids, "doc_id")
        return src.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )

    out = stage(0, "raw", None)
    for i, (nm, ids) in enumerate(
        [("exact_dedup", k1), ("near_dedup", k2), ("quality_gate", k3),
         ("train_sample", k4)],
        start=1,
    ):
        out = out.unionAll(stage(i, nm, ids))
    return out


# ----------------------------------------------- vocabulary growth (Heaps)

_VG_SHARDS = 16


@register(
    "vocab_growth_by_shard",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n FROM documents
    ),
    tok AS (
      SELECT (CAST(doc_id AS BIGINT) * {_VG_SHARDS}) // bounds.n AS shard,
             unnest({T.tokens_sql(T.normalize_text_sql('text'))}) AS term
      FROM documents CROSS JOIN bounds
    ),
    st AS (
      SELECT shard, term, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY shard, term
    ),
    per_shard AS (
      SELECT shard, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct_terms
      FROM st GROUP BY shard
    ),
    first AS (
      SELECT term, min(shard) AS s0 FROM st GROUP BY term
    ),
    news AS (
      SELECT s0 AS shard, CAST(count(*) AS BIGINT) AS n_new_terms
      FROM first GROUP BY s0
    )
    SELECT p.shard, p.n_tokens, p.n_distinct_terms,
           CAST(COALESCE(w.n_new_terms, 0) AS BIGINT) AS n_new_terms,
           CAST(sum(COALESCE(w.n_new_terms, 0)) OVER (
             ORDER BY p.shard ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_vocab
    FROM per_shard p LEFT JOIN news w ON w.shard = p.shard
    """,
    tags=("text", "llm-pipeline", "vocabulary", "heaps-law", "diversity"),
)
def vocab_growth_by_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth across 16 sequential ingestion shards — the
    Heaps-law readout a curation run checks before ingesting the next
    crawl snapshot: per shard, total token instances, distinct terms
    PRESENT, terms seen for the FIRST time (novelty), and the cumulative
    vocabulary. A flattening new-terms curve says later shards repeat the
    corpus (diversity exhausted — more data, no new signal); a linear one
    says the source still surprises. Scale shape: ONE token explode into a
    (shard, term) aggregation (the corpus shuffle, map-side combined),
    then everything runs at vocabulary grain — first-appearance is a
    16-value min per term, the rollups are shard-grain, and the cumulative
    window orders a 16-row frame. Shard assignment is value-range
    bucketing on doc_id (the bound rides a broadcast 1-row aggregate), so
    no global sort anywhere."""
    from pyspark.sql import Window

    d = catalog(spark, sf_dir).documents
    bounds = d.agg((F.max("doc_id") + 1).cast("long").alias("n"))
    tok = d.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"(CAST(doc_id AS BIGINT) * {_VG_SHARDS}) div n").alias(
            "shard"
        ),
        F.explode(T.tokens(T.normalize_text("text"))).alias("term"),
    )
    st = tok.groupBy("shard", "term").agg(F.count(F.lit(1)).alias("c"))
    st = persist(st)
    per_shard = st.groupBy("shard").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_terms"),
    )
    news = (
        st.groupBy("term")
        .agg(F.min("shard").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_new_terms"))
    )
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_shard.join(news, "shard", "left")
        .select(
            "shard",
            "n_tokens",
            "n_distinct_terms",
            F.coalesce(F.col("n_new_terms"), F.lit(0)).alias("n_new_terms"),
        )
        # 16-row frame: the unpartitioned window is over the shard spine,
        # never document rows (the bounded-domain invariant the r3/r4
        # audits require stated in-code)
        .withColumn("cum_vocab", F.sum("n_new_terms").over(w))
    )


@register(
    "token_zipf_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split({T.normalize_text_sql('text')}, ' ')) AS token
      FROM documents
    ),
    f AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM tok WHERE token != '' GROUP BY token
    ),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rank
      FROM f
    ),
    tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM ranked)
    SELECT CAST(length(bin(rank)) AS INTEGER) AS rank_band,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(freq) AS BIGINT) AS band_freq,
           max(freq) AS max_freq,
           min(freq) AS min_freq,
           CAST(1000 * CAST(sum(freq) AS BIGINT) // max(tot.n) AS BIGINT)
             AS share_permille
    FROM ranked, tot
    GROUP BY 1 ORDER BY 1
    """,
    tags=("text", "token-stats", "zipf", "exact-arithmetic"),
)
def token_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency (Zipf) curve of the corpus vocabulary in octave
    bands: tokens are ranked by frequency and grouped by floor(log2(rank))
    (binary digit count — Spark ``length(conv(rank,10,2))`` == DuckDB
    ``length(bin(rank))``, exact integers), each band reporting term
    count, mass, frequency extremes and corpus share in permille. A
    Zipfian corpus shows near-constant mass per octave; a synthetic or
    templated corpus (like this fixture's near-uniform vocabulary) shows
    the mass piling into one band — the heavy-tail diagnostic read before
    sizing a BPE vocabulary or trusting rarity-weighted sampling.

    Scale shape: the corpus collapses to token grain in one map-side-
    combined aggregation (the only corpus-sized pass); ranking then runs
    on the VOCABULARY, which is the bounded-domain invariant the other
    vocab-grain queries state — an unpartitioned window over distinct
    terms, fine at 100 TB because vocabularies grow sub-linearly (Heaps'
    law, measured by vocab_growth_by_shard). The 1-row total joins back
    broadcast."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    toks = F.explode(T.tokens(T.normalize_text("text"))).alias("token")
    f = (
        docs.select(toks)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # vocabulary-grain window: bounded domain (distinct tokens), see above
    w = Window.orderBy(F.col("freq").desc(), "token")
    ranked = f.select("freq", F.row_number().over(w).alias("rank"))
    tot = ranked.agg(F.sum("freq").cast("long").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr("CAST(length(conv(rank, 10, 2)) AS INT)").alias("rank_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("freq").cast("long").alias("band_freq"),
            F.max("freq").alias("max_freq"),
            F.min("freq").alias("min_freq"),
            F.expr("1000 * sum(freq) div max(n)").alias("share_permille"),
        )
        .orderBy("rank_band")
    )


_LM_REF_QUALITY_MIN = 0.6  # reference-slice gate (~25% of fixture docs)
_LM_BIGRAM_SQL = (
    "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])"
)


@register(
    "lm_bigram_perplexity_filter",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {T.tokens_sql(T.normalize_text_sql('text'))} AS t,
             {_QUALITY_SQL['quality']} AS q
      FROM documents
    ),
    el AS (SELECT doc_id, t, q FROM base WHERE len(t) >= 2),
    bg AS (
      SELECT doc_id, unnest({_LM_BIGRAM_SQL}) AS big FROM el
    ),
    tf AS (
      SELECT doc_id, big, CAST(count(*) AS BIGINT) AS tf
      FROM bg GROUP BY doc_id, big
    ),
    refdoc AS (SELECT doc_id FROM el WHERE q >= {_LM_REF_QUALITY_MIN}),
    ref_big AS (
      SELECT big, CAST(sum(tf) AS BIGINT) AS c_big
      FROM tf JOIN refdoc USING (doc_id) GROUP BY big
    ),
    ref_ctx AS (
      SELECT split_part(big, ' ', 1) AS w1,
             CAST(sum(c_big) AS BIGINT) AS c_ctx
      FROM ref_big GROUP BY 1
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS v
      FROM (SELECT unnest(t) AS tok
            FROM el JOIN refdoc USING (doc_id))
    ),
    scored AS (
      SELECT tf.doc_id, tf.tf,
             CAST(length(bin(COALESCE(c.c_ctx, 0) + v.v))
                  - length(bin(COALESCE(b.c_big, 0) + 1)) AS BIGINT)
               AS surp_bits
      FROM tf
      LEFT JOIN ref_big b ON b.big = tf.big
      LEFT JOIN ref_ctx c ON c.w1 = split_part(tf.big, ' ', 1)
      CROSS JOIN vocab v
    ),
    per_doc AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             CAST(sum(tf * surp_bits) AS BIGINT) AS total_bits,
             CAST((1000 * sum(tf * surp_bits)) // sum(tf) AS BIGINT)
               AS mean_millibits
      FROM scored GROUP BY doc_id
    ),
    ref_mean AS (
      SELECT CAST((1000 * sum(p.total_bits)) // sum(p.n_bigrams) AS BIGINT)
               AS m
      FROM per_doc p JOIN refdoc USING (doc_id)
    )
    SELECT p.doc_id, p.n_bigrams, p.total_bits, p.mean_millibits,
           CASE WHEN p.mean_millibits <= r.m THEN 1 ELSE 0 END AS keep
    FROM per_doc p CROSS JOIN ref_mean r
    """,
    tags=("batch", "llm-pipeline", "perplexity", "language-model",
          "quality-filter", "text"),
)
def lm_bigram_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-corpus LM quality filter (the CCNet/RefinedWeb shape): train
    an add-one-smoothed BIGRAM language model on a high-quality reference
    slice (quality >= 0.6 — the stand-in for CCNet's Wikipedia LM), then
    score EVERY document's bigrams under that model and keep documents at
    or below the reference corpus's own mean surprisal. This is the step
    past ``text_unigram_surprisal``: the model is conditional (P(w2|w1)),
    trained on a different distribution than it scores, and OOV mass is
    handled explicitly — unseen contexts fall back to the uniform
    1/(0+V) smoothed floor, unseen continuations to 1/(c_ctx+V).

    Same exact-integer portability rule as the unigram query: -log2 of
    the smoothed probability at floor-log2 resolution,
    ``bits(c_ctx + V) - bits(c_big + 1)`` with ``bits(x)`` the binary
    digit count (Spark ``length(conv(x,10,2))`` == DuckDB
    ``length(bin(x))``) — libm-free, so the whole filter decision is
    value-hash verifiable. Documents under two tokens have no bigrams and
    drop out on both engines.

    Shape at 100 TB: ONE tokenize pass shared by training and scoring
    (persisted at (doc, bigram) grain; r12 — the quality gate reads raw
    text and the vocabulary derives from the persisted bigram LM, so
    the former second and third tokenize passes are gone); the LM lives
    at BIGRAM GRAIN and joins by key — it is sf-proportional, so it is
    NEVER broadcast (the registry-wide guard enforces this); context
    counts roll up from the bigram table (no second pass over text);
    vocab size and the reference-mean gate ride 1-row broadcast
    frames."""
    d = catalog(spark, sf_dir).documents
    # r12: one tokenize pass, not three. `base` carries tokens only (the
    # quality gate reads raw text, so refdoc below never tokenizes), and
    # the reference VOCABULARY derives from the persisted bigram LM
    # instead of a third corpus pass: every token of a >= 2-token doc
    # appears as some bigram's w1 or w2 (consecutive pairs cover all
    # positions), so distinct(w1) UNION distinct(w2) over ref_big IS the
    # reference token set — a vocab-grain derivation off rows already in
    # cache. refdoc also drops the >= 2-token filter: tf only contains
    # docs with at least one bigram, so the join enforces it.
    base = d.select(
        "doc_id", T.tokens(T.normalize_text("text")).alias("t")
    ).filter(F.size("t") >= 2)
    tf = persist(
        base.select(
            "doc_id",
            F.explode(D.shingles_of_tokens(F.col("t"), 2)).alias("big"),
        )
        .groupBy("doc_id", "big")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    refdoc = (
        d.select(
            "doc_id", T.quality_metrics(F.col("text"))["quality"].alias("q")
        )
        .filter(F.col("q") >= _LM_REF_QUALITY_MIN)
        .select("doc_id")
    )
    ref_big = persist(
        tf.join(refdoc, "doc_id")
        .groupBy("big")
        .agg(F.sum("tf").alias("c_big"))
    )
    ref_ctx = ref_big.groupBy(
        F.substring_index("big", " ", 1).alias("w1")
    ).agg(F.sum("c_big").alias("c_ctx"))
    vocab = (
        ref_big.select(F.substring_index("big", " ", 1).alias("tok"))
        .unionAll(
            ref_big.select(F.substring_index("big", " ", -1).alias("tok"))
        )
        .agg((F.count_distinct("tok") + 1).cast("long").alias("v"))
    )
    scored = (
        tf.withColumn("w1", F.substring_index("big", " ", 1))
        .join(ref_big, "big", "left")
        .join(ref_ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "tf",
            F.expr(
                "CAST(length(conv(COALESCE(c_ctx, 0) + v, 10, 2))"
                " - length(conv(COALESCE(c_big, 0) + 1, 10, 2)) AS BIGINT)"
            ).alias("surp_bits"),
        )
    )
    per_doc = persist(
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("surp_bits")).alias("total_bits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "total_bits",
            F.expr("(1000 * total_bits) div n_bigrams").alias(
                "mean_millibits"
            ),
        )
    )
    ref_mean = per_doc.join(refdoc, "doc_id").agg(
        F.expr(
            "CAST((1000 * sum(total_bits)) div sum(n_bigrams) AS BIGINT)"
        ).alias("m")
    )
    return per_doc.crossJoin(F.broadcast(ref_mean)).select(
        "doc_id",
        "n_bigrams",
        "total_bits",
        "mean_millibits",
        F.when(F.col("mean_millibits") <= F.col("m"), 1)
        .otherwise(0)
        .alias("keep"),
    )


# --------------------------------------------------- BM25 phrase retrieval

#: Literal query phrase sets (bounded — they broadcast by contract). The
#: corpus vocabulary is 31 words with near-saturated document frequency
#: (every unigram but one appears in > N/2 docs, i.e. Robertson idf <= 0 —
#: correct BM25 assigns saturated terms no signal), so retrieval runs at
#: BIGRAM-PHRASE grain where df sits near N/17 and idf does real work: the
#: classic phrase-index design.
_BM25_QUERIES = [
    (1, ("hash join", "sort merge")),
    (2, ("stream batch",)),
    (3, ("window function", "query plan")),
    (4, ("hash join", "stream batch", "sort merge")),
    (5, ("merge join", "hash table")),
]
_BM25_TOPK = 10
_BM25_BIGRAM_SQL = (
    "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])"
)
_BM25_QT_VALUES = ", ".join(
    f"({qid}, '{p}')" for qid, phrases in _BM25_QUERIES for p in phrases
)


@register(
    "bm25_topk_docs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {T.tokens_sql(T.normalize_text_sql('text'))} AS t
      FROM documents
    ),
    el AS (SELECT doc_id, t FROM base WHERE len(t) >= 2),
    bg AS (SELECT doc_id, unnest({_BM25_BIGRAM_SQL}) AS b FROM el),
    dl AS (
      SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS dl FROM el
    ),
    consts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(len(t) - 1) AS BIGINT) AS l
      FROM el
    ),
    tf AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf
      FROM bg GROUP BY doc_id, b
    ),
    dfreq AS (
      SELECT b, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM bg GROUP BY b
    ),
    qt AS (SELECT * FROM (VALUES {_BM25_QT_VALUES}) v(query_id, term)),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(sum(
               (length(bin((2 * c.n - 2 * d.df + 1) // (2 * d.df + 1))) - 1)
               * ((44000 * c.l * tf.tf)
                  // (20 * c.l * tf.tf + 6 * c.l + 18 * dl.dl * c.n))
             ) AS BIGINT) AS score
      FROM qt q
      JOIN tf ON tf.b = q.term
      JOIN dfreq d ON d.b = q.term
      JOIN dl ON dl.doc_id = tf.doc_id, consts c
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT CAST(query_id AS INTEGER) AS query_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS INTEGER) AS rank,
           doc_id, score
    FROM scored WHERE score > 0
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id
    ) <= {_BM25_TOPK}
    """,
    tags=("text", "retrieval", "bm25", "lexical", "phrase-index", "top-k",
          "exact-arithmetic"),
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1 = 6/5, b = 3/4) in EXACT integer
    arithmetic at bigram-phrase grain. Per phrase t and doc D:
    ``idf2(t) * (44000 * L * tf) div (20 * L * tf + 6 * L + 18 * dl * N)``
    — the Robertson saturation term with the rational k1/b multiplied out
    to one integer division (identical truncation in both engines), and
    ``idf2 = floor(log2((2N - 2df + 1) / (2df + 1)))`` via
    ``length(bin(p div q)) - 1`` (the repo's libm-free floor-log2 idiom;
    saturated phrases get 0, exactly BM25's clamped-idf behavior). Top-10
    per query, score-desc/doc-asc deterministic tie-break.

    Scale shape (r12 rewrite, VERDICT r11 #6): tokenize once; the
    LITERAL-BOUNDED query-term set is pushed as an ``isin`` filter INTO
    the bigram-explode scan stage, so the posting shuffle carries only
    bigrams some query mentions — posting-list volume, never the corpus'
    full (doc, bigram) grain (the r11 form aggregated tf/df over ALL
    bigrams first and joined the terms after: two corpus-wide exchanges
    for rows the term join then discarded). ``dl`` rides the filtered
    postings (``max`` over a per-doc-constant), eliminating the
    doc-grain dl join. df/idf stay exact: the term filter commutes with
    the tf/df aggregations. At 100 TB the per-query candidate set is
    posting-list-sized."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    base = docs.select(
        "doc_id", T.tokens(T.normalize_text("text")).alias("t")
    ).filter(F.size("t") >= 2)
    terms = sorted({p for _, phrases in _BM25_QUERIES for p in phrases})
    bg = base.select(
        "doc_id",
        (F.size("t") - 1).cast("long").alias("dl"),
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), "
                "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"
            )
        ).alias("b"),
    ).filter(F.col("b").isin(terms))
    consts = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.size("t") - 1).cast("long").alias("l"),
    )
    tf = bg.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = bg.groupBy("b").agg(F.countDistinct("doc_id").alias("df"))
    qt = spark.createDataFrame(
        [(qid, p) for qid, phrases in _BM25_QUERIES for p in phrases],
        "query_id int, term string",
    )
    idf2 = (
        F.length(
            F.bin(
                F.expr("(2 * n - 2 * df + 1) div (2 * df + 1)")
            )
        )
        - 1
    ).cast("long")
    part = F.expr(
        "(44000 * l * tf) div (20 * l * tf + 6 * l + 18 * dl * n)"
    )
    scored = (
        tf.join(F.broadcast(qt), tf["b"] == qt["term"])
        .join(
            F.broadcast(dfreq.select(F.col("b").alias("dfb"), "df")),
            F.col("b") == F.col("dfb"),
        )
        .crossJoin(F.broadcast(consts))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf2 * part).alias("score"))
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "rank", "doc_id", "score")
    )


# ------------------------------------------------ train/test leakage audit

_LEAK_MIN_AGREEMENT = 8  # >= 8/16 signature agreement ~ Jaccard 0.5


def _leak_oracle() -> str:
    from .dedupq import _BANDS_CTE
    from .streamq import _AGREE_SQL

    return f"""{_BANDS_CTE},
    sp AS (
      SELECT doc_id, ({_SPLIT_BUCKET} % 100 < 80) AS is_train FROM documents
    ),
    h AS (SELECT doc_id, {H.h60_sql(_NORM)} AS th FROM documents),
    ex AS (
      SELECT t.doc_id AS test_id, min(tr.doc_id) AS train_id
      FROM h t JOIN sp st ON st.doc_id = t.doc_id AND NOT st.is_train
      JOIN h tr ON tr.th = t.th
      JOIN sp sr ON sr.doc_id = tr.doc_id AND sr.is_train
      GROUP BY t.doc_id
    ),
    cand AS (
      SELECT DISTINCT bn.doc_id AS test_id, bo.doc_id AS train_id
      FROM bands bn JOIN sp st ON st.doc_id = bn.doc_id AND NOT st.is_train
      JOIN bands bo ON bo.band_idx = bn.band_idx
                   AND bo.band_hash = bn.band_hash
      JOIN sp sr ON sr.doc_id = bo.doc_id AND sr.is_train
      WHERE bn.doc_id NOT IN (SELECT test_id FROM ex)
    ),
    nr AS (
      SELECT c.test_id, min(c.train_id) AS train_id
      FROM cand c JOIN mh a ON a.doc_id = c.test_id
      JOIN mh b ON b.doc_id = c.train_id
      WHERE ({_AGREE_SQL}) >= {_LEAK_MIN_AGREEMENT}
      GROUP BY c.test_id
    )
    SELECT test_id, train_id, 'exact' AS leak_type FROM ex
    UNION ALL
    SELECT test_id, train_id, 'near' AS leak_type FROM nr
    """


@register(
    "train_eval_leakage_pairs",
    oracle=_leak_oracle(),
    tags=("text", "llm-pipeline", "decontamination", "leakage", "dedup",
          "minhash", "split"),
)
def train_eval_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the audit every LLM eval pipeline needs
    before trusting a held-out split: which TEST documents leak from the
    TRAIN split, exactly or as near-duplicates? Uses the registered
    deterministic 80/20 hash split (``corpus_train_test_split``'s rule),
    then (a) exact leakage = content-hash match against any train doc
    (min train id reported), and (b) near leakage for the remaining test
    docs = MinHash band collision against a train doc confirmed by
    >= {_LEAK_MIN_AGREEMENT}/16 signature agreement (the ingest family's
    Broder-estimator verify step). One row per leaked test doc with its
    earliest matching train doc and the leak class. This is the
    split-level complement of ``contamination_bench_overlap`` (which
    audits n-gram overlap against a benchmark table, not near-dup
    leakage between splits).

    Shape: the split flag is an in-scan hash expression; exact leakage is
    one 16 B (hash, id) exchange; the near probe is the banded candidate
    join of compact signature keys (never all-pairs) with the agreement
    verify at candidate-pair grain — the audited dedup_minhash_lsh
    shuffle shape, filtered to the cross-split direction."""
    from functools import reduce
    from operator import add

    docs = catalog(spark, sf_dir).documents
    is_train = (
        H.h60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
        < 80
    )
    hashed = docs.select(
        "doc_id",
        H.h60(T.normalize_text("text")).alias("th"),
        is_train.alias("is_train"),
    )
    train_h = hashed.filter("is_train").select(
        F.col("doc_id").alias("train_id"), "th"
    )
    test_h = hashed.filter("NOT is_train").select(
        F.col("doc_id").alias("test_id"), "th"
    )
    exact = (
        test_h.join(train_h, "th")
        .groupBy("test_id")
        .agg(F.min("train_id").alias("train_id"))
    )
    mh = D.minhash_table(docs)
    bands = D.lsh_bands(mh)
    flags = hashed.select("doc_id", "is_train")
    b_test = (
        bands.join(flags, "doc_id")
        .filter("NOT is_train")
        .select(F.col("doc_id").alias("test_id"), "band_idx", "band_hash")
        .join(exact.select("test_id"), "test_id", "left_anti")
    )
    b_train = (
        bands.join(flags, "doc_id")
        .filter("is_train")
        .select(F.col("doc_id").alias("train_id"), "band_idx", "band_hash")
    )
    cand = (
        b_test.join(b_train, ["band_idx", "band_hash"])
        .select("test_id", "train_id")
        .distinct()
    )
    agreement = reduce(
        add,
        [
            F.when(F.col(f"a.mh{j}") == F.col(f"b.mh{j}"), 1).otherwise(0)
            for j in range(16)
        ],
    )
    near = (
        cand.join(mh.alias("a"), F.col("a.doc_id") == F.col("test_id"))
        .join(mh.alias("b"), F.col("b.doc_id") == F.col("train_id"))
        .filter(agreement >= _LEAK_MIN_AGREEMENT)
        .groupBy("test_id")
        .agg(F.min("train_id").alias("train_id"))
    )
    return exact.select(
        "test_id", "train_id", F.lit("exact").alias("leak_type")
    ).unionByName(
        near.select("test_id", "train_id", F.lit("near").alias("leak_type"))
    )


@register(
    "source_bigram_entropy",
    oracle=f"""
    WITH base AS (
      SELECT source, {T.tokens_sql(T.normalize_text_sql('text'))} AS t
      FROM documents
    ),
    bg AS (
      SELECT source, unnest({_BM25_BIGRAM_SQL}) AS b
      FROM base WHERE len(t) >= 2
    ),
    cnt AS (
      SELECT source, b, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY source, b
    ),
    tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source
    )
    SELECT cnt.source,
           tot.n AS n_bigrams,
           CAST(count(*) AS BIGINT) AS distinct_bigrams,
           CAST((1000 * sum(cnt.c * (length(bin(tot.n))
                                     - length(bin(cnt.c))))) // tot.n
                AS BIGINT) AS entropy_millibits
    FROM cnt JOIN tot ON tot.source = cnt.source
    GROUP BY cnt.source, tot.n
    """,
    tags=("text", "llm-pipeline", "diversity", "entropy",
          "exact-arithmetic"),
)
def source_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity dashboard — the per-source Shannon entropy of the
    bigram distribution, the signal curation pipelines use to catch a
    source collapsing into boilerplate (entropy drops) or drifting into
    noise (entropy tops out): ``H = sum(c/N * -log2(c/N))`` evaluated at
    FLOOR-LOG2 resolution, ``-log2(c/N) ~ bits(N) - bits(c)`` (the repo's
    libm-free integer surrogate, same monotone class as the surprisal
    filter), reported in millibits via one integer division per source.
    Distinct-bigram count rides along as the raw richness measure.

    Shape: one tokenize pass to (source, bigram) count partials after
    map-side combine; per-source totals join at the bounded source
    domain; nothing at document grain survives the first exchange."""
    docs = catalog(spark, sf_dir).documents
    base = docs.select(
        "source", T.tokens(T.normalize_text("text")).alias("t")
    ).filter(F.size("t") >= 2)
    bg = base.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), "
                "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"
            )
        ).alias("b"),
    )
    cnt = bg.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("distinct_bigrams"),
            F.expr(
                "CAST((1000 * sum(c * (length(bin(n)) - length(bin(c)))))"
                " div n AS BIGINT)"
            ).alias("entropy_millibits"),
        )
        .select(
            "source", F.col("n").alias("n_bigrams"), "distinct_bigrams",
            "entropy_millibits",
        )
    )
