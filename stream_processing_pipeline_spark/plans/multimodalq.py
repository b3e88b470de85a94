"""Multimodal-column query suite (beyond-parity).

The fixtures carry no real media, so payloads are synthesized two ways:
``documents.text`` UTF-8 bytes stand in for opaque blobs in the plumbing
queries (metadata, chunking, stub-decoder pipelines — SQL-checkable by
construction), while the REAL-codec queries (``mm_ppm_decode_stats``,
``mm_wav_pcm_stats``, ``mm_tar_member_index``, ``mm_png_decode_stats``,
``mm_png_corrupt_quarantine``, ``mm_jpeg_decode_stats``,
``mm_jpeg_ac_decode_stats``, ``mm_gif_decode_stats``,
``mm_gif_dict_decode_stats``, ``mm_zip_decode_stats``,
``mm_zip_corrupt_quarantine``, ``mm_gzip_decode_stats``) build genuine
binary files per document in-plan (JVM expressions; the JPEG entropy
stream comes from a precomputed 256-entry table because Huffman coding
has no SQL expression) and decode them with the dependency-free parsers
in ``operators.multimodal`` — their oracles rederive every stat from the
generative formulas without seeing a byte.
"""

from __future__ import annotations

import bz2
import lzma

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..operators.multimodal import (
    _map_payloads,
    attach_binary_payload,
    chunk_offsets,
    decode_gif_quarantine_arrow,
    decode_gif_stats_arrow,
    decode_gzip_quarantine_arrow,
    decode_gzip_stats_arrow,
    decode_jpeg_stats_arrow,
    decode_media_arrow,
    decode_media_batched,
    decode_png_quarantine_arrow,
    decode_png_stats_arrow,
    decode_ppm_stats_arrow,
    decode_warc_gz_stats_arrow,
    decode_warc_http_stats_arrow,
    decode_wav_stats_arrow,
    decode_zip_quarantine_arrow,
    decode_zip_stats_arrow,
    decode_zlib_quarantine_arrow,
    decode_zlib_stats_arrow,
    index_tar_members_arrow,
    index_tbz2_members_arrow,
    index_tgz_members_arrow,
    index_txz_members_arrow,
    media_metadata,
    resize_media_batched,
)
from .common import catalog
from .registry import register

_CHUNK = 64  # bytes per chunk (small to exercise multi-chunk docs)
_STRIDE = 2  # frame-sampling stride


@register(
    "mm_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256,
           CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_chunks
    FROM documents
    """,
    tags=("multimodal", "metadata"),
)
def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata: byte length, content sha256, chunk count —
    the predicate columns that prune 100 TB media scans without touching
    payload bytes."""
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    meta = media_metadata("payload")
    return docs.select(
        "doc_id",
        meta.getField("byte_len").cast("long").alias("byte_len"),
        meta.getField("sha256").alias("sha256"),
        F.ceil(F.octet_length("payload") / F.lit(float(_CHUNK)))
        .cast("long")
        .alias("n_chunks"),
    )


@register(
    "mm_frame_offsets",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(ceil(octet_length(encode(text)) / {_CHUNK}.0) AS BIGINT) AS n_chunks
      FROM documents
    )
    SELECT doc_id, CAST(u.off AS BIGINT) AS offset
    FROM m, unnest(range(0, (n_chunks - 1) * {_CHUNK} + 1, {_CHUNK * _STRIDE})) u(off)
    """,
    tags=("multimodal", "chunking"),
)
def mm_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample chunk offsets (every 2nd 64-byte chunk) — the keyframe
    access pattern: compute offsets from metadata, fetch only those ranges."""
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    return docs.select(
        "doc_id",
        F.explode(chunk_offsets(F.octet_length("payload"), _CHUNK, _STRIDE)).alias(
            "offset"
        ),
    ).select("doc_id", F.col("offset").cast("long").alias("offset"))


@register(
    "mm_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INTEGER) % 192
                AS INTEGER) AS width,
           CAST(64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INTEGER) % 192
                AS INTEGER) AS height,
           ['jpeg', 'png', 'webp'][1 + CAST(concat('0x', substr(md5(text), 5, 2)) AS INTEGER) % 3]
             AS format
    FROM documents
    """,
    tags=("multimodal", "decode", "pandas-udf"),
)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode pipeline over binary payloads.

    The decoder is the deterministic stub (md5-derived width/height/format —
    no codecs in this container), which makes the whole Python-side pipeline
    oracle-checkable: schema, batching, and per-row results all verify. Swap
    ``decoder=`` for PIL/libvips in production; the plan shape is unchanged.
    """
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    return decode_media_batched(docs, id_col="doc_id", payload_col="payload")


@register(
    "mm_format_stats",
    oracle="""
    WITH d AS (
      SELECT CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             ['jpeg', 'png', 'webp'][1 + CAST(concat('0x', substr(md5(text), 5, 2)) AS INTEGER) % 3]
               AS format
      FROM documents
    )
    SELECT format, count(*) AS n, CAST(sum(byte_len) AS BIGINT) AS total_bytes
    FROM d GROUP BY format
    """,
    tags=("multimodal", "aggregation", "pandas-udf"),
)
def mm_format_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats over decoded metadata: media pipeline -> relational
    aggregation in one plan (the mapInPandas output is a normal DataFrame)."""
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    decoded = decode_media_batched(docs)
    return decoded.groupBy("format").agg(
        F.count(F.lit(1)).alias("n"), F.sum("byte_len").alias("total_bytes")
    )


_W = "CAST(64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INTEGER) % 192 AS INTEGER)"
_H = "CAST(64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INTEGER) % 192 AS INTEGER)"


@register(
    "mm_resize",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_W} AS width, {_H} AS height FROM documents)
    SELECT doc_id, width, height,
           CAST(CASE WHEN width <= 128 AND height <= 128 THEN width
                     WHEN width >= height THEN 128
                     ELSE greatest(1, width * 128 // height) END AS INTEGER)
             AS out_width,
           CAST(CASE WHEN width <= 128 AND height <= 128 THEN height
                     WHEN width >= height THEN greatest(1, height * 128 // width)
                     ELSE 128 END AS INTEGER) AS out_height
    FROM d
    """,
    tags=("multimodal", "resize", "pandas-udf"),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Arrow pipeline: mapInPandas decode -> mapInPandas resize
    (aspect-preserving 128px thumbnail targets in exact integer math). The
    pixel resampling itself is the honestly-stubbed codec step; the stage
    chaining, batch shapes, and dimension arithmetic are real and verified
    value-for-value — swap ``resizer=`` for a real library at deploy."""
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    return resize_media_batched(decode_media_batched(docs), max_dim=128)


@register(
    "mm_decode_arrow",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INTEGER) % 192
                AS INTEGER) AS width,
           CAST(64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INTEGER) % 192
                AS INTEGER) AS height,
           ['jpeg', 'png', 'webp'][1 + CAST(concat('0x', substr(md5(text), 5, 2)) AS INTEGER) % 3]
             AS format
    FROM documents
    """,
    tags=("multimodal", "decode", "arrow-udf"),
)
def mm_decode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` decode twin of ``mm_decode``: same stub decoder, same
    oracle, but the Python stage consumes raw pyarrow RecordBatches with
    zero-copy payload buffers — no pandas materialization. Verifying both
    flavors against ONE oracle pins that the engine's two batch-Python hops
    are value-identical; mapInArrow is the preferred hot path for binary
    media at scale."""
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    return decode_media_arrow(docs, id_col="doc_id", payload_col="payload")


# ---------------------------------------------------------- real PPM decode
#
# The fixtures ship no media bytes, so the query SYNTHESIZES a real binary
# PPM (P6) payload per document with JVM-side expressions — ASCII header
# (with a '#' comment line, so comment handling is exercised end-to-end)
# followed by raw RGB bytes from a deterministic per-(doc, byte) formula —
# then decodes it with the dependency-free parser in
# ``operators.multimodal.parse_pnm`` and emits exact per-channel pixel sums.
# The oracle recomputes the same sums from the generative formula, never
# seeing the bytes: if the parser mis-read the header, skipped a comment,
# or mis-aligned the raster offset, the sums would not match. This is the
# first codec path that is value-hash-verified end-to-end; the
# NotImplementedError gates remain for real-world codecs (jpeg/png need
# libraries this container doesn't have).

_PPM_A = 37  # per-doc seed multiplier in the pixel formula
_PPM_B = 13  # per-byte stride in the pixel formula

_PPM_W = "CAST(4 + doc_id % 5 AS INT)"   # widths 4..8
_PPM_H = "CAST(3 + doc_id % 4 AS INT)"   # heights 3..6


def _ppm_payload_col() -> F.Column:
    """Binary PPM payload: header || raster, all built from JVM built-ins
    (format_string / transform / hex / unhex) — no Python in the
    generator, so generation and decode are independent code paths."""
    header = F.expr(
        "encode(format_string('P6\\n# synthetic fixture %d\\n%d %d\\n255\\n',"
        f" doc_id, {_PPM_W}, {_PPM_H}), 'UTF-8')"
    )
    raster = F.expr(
        f"unhex(concat_ws('', transform(sequence(0, 3 * ({_PPM_W}) * ({_PPM_H}) - 1),"
        f" k -> lpad(hex((doc_id * {_PPM_A} + k * {_PPM_B}) % 256), 2, '0'))))"
    )
    return F.concat(header, raster)


def _ppm_sum_sql(c: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(0, width * height),"
        f" i -> (doc_id * {_PPM_A} + (3 * i + {c}) * {_PPM_B}) % 256))"
        " AS BIGINT)"
    )


@register(
    "mm_ppm_decode_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_PPM_W.replace('INT', 'INTEGER')} AS width,
             {_PPM_H.replace('INT', 'INTEGER')} AS height
      FROM documents
    )
    SELECT doc_id, width, height, CAST(255 AS INTEGER) AS maxval,
           CAST(width * height AS BIGINT) AS n_pixels,
           {_ppm_sum_sql(0)} AS sum_r,
           {_ppm_sum_sql(1)} AS sum_g,
           {_ppm_sum_sql(2)} AS sum_b
    FROM d
    """,
    tags=("multimodal", "decode", "ppm", "arrow-udf", "real-codec"),
)
def mm_ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified media decode: synthesize a real binary PPM per
    document (JVM expressions only), parse it with the dependency-free
    pure-Python PNM decoder inside a zero-copy ``mapInArrow`` stage, and
    report exact per-channel pixel sums. The oracle rederives the sums
    from the pixel formula without ever seeing the bytes, so a parser bug
    (header tokenization, comment skipping, raster offset, channel
    interleave) is a value-hash mismatch — the decode stage itself is
    under test, not a stub. Scale shape: payloads are generated and
    consumed within one task (never shuffled); the Python hop receives
    Arrow buffers zero-copy, the same hot path a real 100 TB image corpus
    would use with a library codec plugged into the identical signature."""
    # id-only repartition before payload synthesis: see mm_wav_pcm_stats
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _ppm_payload_col().alias("payload"))
    )
    return decode_ppm_stats_arrow(docs)


# --------------------------------------------------- WebDataset shard layout

from ..functions.hashing import h60 as _h60
from ..functions.hashing import h60_sql as _h60_sql
from ..functions.hashing import stable_bucket as _sb
from ..functions.hashing import stable_bucket_sql as _sb_sql

_MM_WRITERS = 4        # parallel shard writers (one tar stream each)
_MM_TARGET = 16384     # close a shard file once it reaches 16 KiB

_MM_ORD = _h60_sql("concat('mmshard:', CAST(doc_id AS VARCHAR))")
_MM_WRITER = _sb_sql("doc_id", _MM_WRITERS, salt="mmwriter:")


@register(
    "mm_shard_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             {_MM_WRITER} AS writer,
             {_MM_ORD} AS ord
      FROM documents
    ), s AS (
      SELECT doc_id, writer, byte_len,
             CAST(COALESCE(SUM(byte_len) OVER (
                    PARTITION BY writer ORDER BY ord, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_b
      FROM t
    )
    SELECT doc_id, writer, byte_len,
           start_b // {_MM_TARGET} AS file_no,
           start_b - (start_b // {_MM_TARGET}) * {_MM_TARGET} AS file_offset
    FROM s
    """,
    tags=("multimodal", "layout", "webdataset", "shard-packing"),
)
def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest for the binary payloads: assign
    every blob a writer stream, a shard file number, and its byte offset —
    the (shard, offset, length) triple a sequential tar-shard reader needs
    to stream training samples without an index server. Writers are
    deterministic hash buckets; within a writer blobs order by a
    content-independent hash (decorrelating crawl order, same rationale as
    ``corpus_epoch_shuffle``). Addressing is FIXED-SLICE: each writer's
    blobs form one contiguous byte stream, cut into exact 16 KiB volumes
    (``file_no = start div target``, ``file_offset = start mod target`` —
    the multi-volume `split -b` layout), so a blob may STRADDLE a volume
    boundary and continue at offset 0 of the next file; the reader
    reconstructs the stream by concatenation, which the contiguity test
    pins. (The alternative roll-at-target layout — close a file once its
    byte sum passes the target, every blob whole in one file — needs
    data-dependent boundaries a running-sum window can't express
    declaratively.) Shape: one scan, one per-writer running-sum window —
    payload BYTES never shuffle, only (doc_id, byte_len) pairs enter the
    window (the same no-global-sort packing contract
    ``corpus_pack_sequences`` carries, here in bytes over media blobs).
    At 100 TB each writer's window is an independent partition and shard
    files parallelize across writers; the manifest IS the dataset index
    that makes random access into sequential media storage possible."""
    docs = attach_binary_payload(catalog(spark, sf_dir).documents, "text")
    t = docs.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("byte_len"),
        _sb(F.col("doc_id"), _MM_WRITERS, salt="mmwriter:").alias("writer"),
        _h60(F.concat(F.lit("mmshard:"), F.col("doc_id").cast("string"))).alias("ord"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("writer")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = t.select(
        "doc_id",
        "writer",
        "byte_len",
        F.coalesce(F.sum("byte_len").over(w), F.lit(0)).alias("start_b"),
    )
    file_no = F.expr(f"start_b div {_MM_TARGET}")
    return s.select(
        "doc_id",
        "writer",
        "byte_len",
        file_no.alias("file_no"),
        (F.col("start_b") - file_no * _MM_TARGET).alias("file_offset"),
    )


# ------------------------------------------------ real WAV/PCM decode (audio)
#
# Audio twin of mm_ppm_decode_stats: synthesize a REAL RIFF/WAVE payload per
# document — canonical header, a fmt chunk declaring 16-bit mono PCM, an
# odd-sized LIST metadata chunk (so the parser's even-byte chunk padding is
# exercised end-to-end), and a data chunk of little-endian int16 samples
# from a deterministic per-(doc, sample) formula — then decode it with the
# dependency-free ``operators.multimodal.parse_wav`` chunk walker and emit
# exact integer PCM stats. The oracle rederives the stats from the sample
# formula without ever seeing the bytes: a mis-read chunk size, a skipped
# pad byte, a wrong endianness or sign convention is a value-hash mismatch.

_WAV_A = 151   # per-doc seed multiplier in the sample formula
_WAV_B = 947   # per-sample stride (odd, so the int16 space is well mixed)

_WAV_N = "(32 + doc_id % 64)"                 # samples per doc: 32..95
_WAV_RATE = "(8000 + (doc_id % 4) * 4000)"    # 8/12/16/20 kHz
_WAV_U = f"(doc_id * {_WAV_A} + k * {_WAV_B}) % 65536"  # unsigned int16


def _le_hex_sql(expr: str, nbytes: int) -> str:
    """SQL producing the little-endian hex encoding of ``expr`` (Spark and
    DuckDB share the div/%/hex/lpad spellings used here)."""
    parts = [
        f"lpad(hex(({expr}) div {256 ** k} % 256), 2, '0')" for k in range(nbytes)
    ]
    return "concat(" + ", ".join(parts) + ")"


def _wav_payload_col() -> F.Column:
    """Binary RIFF/WAVE payload assembled entirely from JVM built-ins (hex
    string concatenation + one unhex) — no Python in the generator, so
    generation and decode are independent code paths.

    Layout: RIFF(size) WAVE | fmt(16): PCM,1ch,rate,2*rate,2,16 |
    LIST(5)+pad | data(2n): n LE int16 samples."""
    n, rate = _WAV_N, _WAV_RATE
    riff_size = f"(50 + 2 * {n})"  # WAVE tag + fmt(24) + LIST(14) + data(8+2n)
    header_hex = "".join(
        [
            "'52494646', ",                      # 'RIFF'
            f"{_le_hex_sql(riff_size, 4)}, ",
            "'57415645', ",                      # 'WAVE'
            "'666d7420', '10000000', ",          # 'fmt ', size 16
            "'0100', '0100', ",                  # PCM, 1 channel
            f"{_le_hex_sql(rate, 4)}, ",
            f"{_le_hex_sql(f'2 * {rate}', 4)}, ",
            "'0200', '1000', ",                  # block align 2, 16 bits
            "'4c495354', '05000000', '6a756e6b2100', ",  # 'LIST'(5) 'junk!' +pad
            "'64617461', ",                      # 'data'
            f"{_le_hex_sql(f'2 * {n}', 4)}",
        ]
    )
    samples_hex = (
        f"concat_ws('', transform(sequence(0, {_WAV_N} - 1), "
        f"k -> {_le_hex_sql(_WAV_U, 2)}))"
    )
    return F.expr(f"unhex(concat({header_hex}, {samples_hex}))")


@register(
    "mm_wav_pcm_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST({_WAV_RATE} AS INTEGER) AS sample_rate,
             {_WAV_N} AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, sample_rate, n,
             list_transform(range(n), k -> CASE
               WHEN {_WAV_U} >= 32768 THEN {_WAV_U} - 65536
               ELSE {_WAV_U} END) AS pcm
      FROM d
    )
    SELECT doc_id, sample_rate, CAST(1 AS INTEGER) AS n_channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(pcm) AS BIGINT) AS sum_pcm,
           CAST(list_sum(list_transform(pcm, x -> x * x)) AS BIGINT)
             AS sumsq_pcm,
           CAST(list_min(pcm) AS INTEGER) AS min_pcm,
           CAST(list_max(pcm) AS INTEGER) AS max_pcm
    FROM s
    """,
    tags=("multimodal", "decode", "wav", "audio", "arrow-udf", "real-codec"),
)
def mm_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified AUDIO decode: synthesize a real RIFF/WAV 16-bit
    PCM payload per document (JVM expressions only, including an odd-sized
    metadata chunk that forces the spec's even-byte chunk padding), parse
    it with the dependency-free chunk walker in
    ``operators.multimodal.parse_wav`` inside a zero-copy ``mapInArrow``
    stage, and report exact integer PCM statistics (sum, energy, min/max —
    the clipping/normalization audit of a speech pipeline). The oracle
    rederives every stat from the generative sample formula without seeing
    the bytes, so container-parsing bugs (chunk sizes, pad bytes, LE int16
    sign handling) are value-hash mismatches. Scale shape: payloads are
    generated and consumed within one task (never shuffled); the Arrow hop
    is the identical signature a real audio corpus would drive with a
    library codec."""
    # Repartition the 8-byte id column BEFORE synthesizing payloads: the
    # decode stage's parallelism then matches the cluster, not the input
    # file count, and payload bytes still never shuffle (measured: the 10x
    # single-file replica read as 2 partitions ran the Python stage on 2
    # of 32 cores — 15.2x wall at 10x rows; repartitioning ids restores
    # the linear map). A real media corpus gets the same effect from
    # files.maxPartitionBytes / input splits.
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _wav_payload_col().alias("payload"))
    )
    return decode_wav_stats_arrow(docs)


# ------------------------------------------- real tar (WebDataset) indexing
#
# Third real container (after PPM and RIFF/WAV): POSIX ustar — the
# WebDataset shard format. Each document synthesizes a 2-member archive
# ({doc_id}.txt = the text bytes, {doc_id}.cls = the lang label) entirely
# from JVM expressions, INCLUDING the header checksum (sum of the 512
# header bytes with the checksum field as spaces — fixed fields fold to
# the constant 2573, the name and octal-size bytes fold in-plan), then
# the dependency-free walker indexes the members. A checksum, magic,
# alignment, or octal-parse bug is a hard decode error; size bookkeeping
# bugs are value-hash mismatches against the arithmetic oracle.

_TAR_C0 = 2573  # byte-sum of all FIXED header fields + checksum-as-spaces


def _tar_ascii_sum(expr: str) -> str:
    """SQL: sum of ASCII codes of a (short, computed) string — feeds the
    ustar checksum for the two variable header fields (name, octal size)."""
    return (
        f"aggregate(sequence(1, length({expr})), 0,"
        f" (acc, i) -> acc + ascii(substr({expr}, i, 1)))"
    )


def _tar_member_hex(name_expr: str, content_expr: str) -> str:
    """Hex of one ustar member (512 B header + content padded to 512).

    All NUL-byte runs are '0' hex characters, so rpad-with-'0' is the
    padding operator throughout."""
    sz = f"octet_length(encode({content_expr}, 'UTF-8'))"
    sz11 = f"lpad(conv(CAST({sz} AS BIGINT), 10, 8), 11, '0')"
    cks = (
        f"lpad(conv(CAST({_TAR_C0} + {_tar_ascii_sum(name_expr)}"
        f" + {_tar_ascii_sum(sz11)} AS BIGINT), 10, 8), 6, '0')"
    )
    header = (
        f"concat(rpad(hex(encode({name_expr}, 'UTF-8')), 200, '0'),"
        f" '3030303036343400',"                      # mode "0000644\0"
        f" '3030303030303000', '3030303030303000',"  # uid, gid
        f" hex(encode({sz11}, 'UTF-8')), '20',"      # size + space
        f" '303030303030303030303020',"              # mtime 11 zeros + space
        f" hex(encode({cks}, 'UTF-8')), '0020',"     # checksum + NUL + space
        f" '30',"                                    # typeflag '0'
        f" repeat('0', 200),"                        # linkname (100 NUL)
        f" '7573746172003030',"                      # magic "ustar\0" + "00"
        f" repeat('0', 494))"                        # uname..prefix+pad (247 NUL)
    )
    data = (
        f"rpad(hex(encode({content_expr}, 'UTF-8')),"
        f" CAST(1024 * (({sz} + 511) div 512) AS INT), '0')"
    )
    return f"concat({header}, {data})"


def _tar_payload_col() -> F.Column:
    txt = _tar_member_hex("concat(doc_id, '.txt')", "text")
    cls = _tar_member_hex("concat(doc_id, '.cls')", "lang")
    return F.expr(f"unhex(concat({txt}, {cls}, repeat('0', 2048)))")


@register(
    "mm_tar_member_index",
    oracle="""
    SELECT doc_id, CAST(2 AS INTEGER) AS n_members,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(lang)) AS BIGINT) AS cls_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 AS BIGINT) AS archive_bytes
    FROM documents
    """,
    tags=("multimodal", "webdataset", "tar", "arrow-udf", "real-codec"),
)
def mm_tar_member_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified WEBDATASET shard indexing: synthesize a real
    POSIX ustar archive per document (JVM expressions only — header
    checksums included, folded from the fixed-field constant plus in-plan
    ASCII sums of the name and octal size), then index the members with
    the dependency-free walker in ``operators.multimodal.parse_tar``,
    which validates magic, CHECKSUM, octal sizes, 512-byte alignment and
    the two-zero-block trailer on every archive. The oracle rederives the
    member statistics arithmetically without seeing the bytes — and
    because the walker hard-fails on any checksum or alignment error, a
    generator/parser disagreement cannot silently pass. This is the exact
    access pattern of a streaming WebDataset loader at 100 TB: read the
    header blocks, index members, fetch payload ranges lazily; archives
    are generated and consumed within one task; one repartition of the
    three content columns sets index parallelism at cluster width (the
    id-only trick of mm_wav_pcm_stats does not apply — the archive wraps
    real content, which must move once)."""
    # unlike the WAV/PPM payloads (pure functions of doc_id), the archive
    # wraps real content columns, so those columns shuffle ONCE in the
    # parallelism repartition — the minimum data motion any content-
    # bearing shard build pays
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _tar_payload_col().alias("payload"))
    )
    return index_tar_members_arrow(docs)


# -------------------------------------------------- real PNG (RGB8) decode
#
# Fourth real codec, closing the "real web-corpus image format" gap:
# each document synthesizes a REAL non-interlaced 8-bit
# RGB PNG from JVM built-ins alone — IHDR/IDAT/IEND chunk framing with
# Spark's built-in crc32() for the chunk CRCs, a zlib stream using a
# STORED deflate block (RFC 1951 §3.2.4 — the one deflate form
# expressible in SQL) with the Adler-32 checksum computed by integer
# folds, and per-scanline filter types cycling through ALL FIVE RFC 2083
# filters (None/Sub/Up/Average/Paeth), each applied to the closed-form
# raster in-plan. operators.multimodal.parse_png then inflates (stdlib
# zlib) and unfilters inside a zero-copy mapInArrow stage. The oracle
# rederives pixel sums and the filter bitmask from the generative
# formula, never seeing a byte — a signature, CRC, inflate, stride, or
# filter-reconstruction bug is a hard error or a value-hash mismatch.

_PNG_A = 41  # per-doc seed multiplier in the pixel formula
_PNG_B = 17  # per-byte stride in the pixel formula

_PNG_W = "CAST(2 + doc_id % 5 AS INT)"  # widths 2..6
_PNG_H = "CAST(3 + doc_id % 4 AS INT)"  # heights 3..6


def _png_raw_sql(k: str) -> str:
    """Closed-form raw raster byte at index ``k`` (row-major RGB)."""
    return f"pmod(doc_id * {_PNG_A} + ({k}) * {_PNG_B}, 256)"


def _png_filt_array_sql() -> str:
    """SQL array<int> of the FILTERED scanline stream: for each scanline a
    leading filter-type byte ((doc_id + row) % 5 — every PNG cycles
    through at least 3 of the 5 types, and docs with height 6 hit all but
    one), then the row's bytes passed through that filter exactly as an
    encoder would (RFC 2083 §6.3-6.7), all from the closed-form raster."""
    W, H = _PNG_W, _PNG_H
    stride = f"(1 + 3 * ({W}))"
    r = f"(m div {stride})"
    j = f"(m % {stride} - 1)"
    k = f"({r} * 3 * ({W}) + {j})"
    raw = _png_raw_sql
    a = f"(CASE WHEN {j} >= 3 THEN {raw(f'{k} - 3')} ELSE 0 END)"
    b = f"(CASE WHEN {r} >= 1 THEN {raw(f'{k} - 3 * ({W})')} ELSE 0 END)"
    c = (
        f"(CASE WHEN {r} >= 1 AND {j} >= 3"
        f" THEN {raw(f'{k} - 3 * ({W}) - 3')} ELSE 0 END)"
    )
    f_ = f"pmod(doc_id + {r}, 5)"
    paeth = (
        f"(CASE WHEN abs({b} - {c}) <= abs({a} - {c})"
        f" AND abs({b} - {c}) <= abs({a} + {b} - 2 * {c}) THEN {a}"
        f" WHEN abs({a} - {c}) <= abs({a} + {b} - 2 * {c}) THEN {b}"
        f" ELSE {c} END)"
    )
    pred = (
        f"(CASE {f_} WHEN 0 THEN 0 WHEN 1 THEN {a} WHEN 2 THEN {b}"
        f" WHEN 3 THEN ({a} + {b}) div 2 ELSE {paeth} END)"
    )
    return (
        f"transform(sequence(0, ({H}) * {stride} - 1), m -> "
        f"CASE WHEN m % {stride} = 0 THEN {f_}"
        f" ELSE pmod({raw(k)} - {pred}, 256) END)"
    )


def _png_attach_payload(docs: DataFrame) -> DataFrame:
    """Attach the binary PNG payload, built from JVM built-ins only (hex
    concatenation, one final unhex; crc32() for chunk CRCs; Adler-32 as
    two integer folds over the filtered stream) — no Python in the
    generator, so generation and decode are independent code paths.

    The filtered stream (``_fa``) and the zlib member (``_zl``, needed
    both as IDAT body and as crc32 input) are STAGED as intermediate
    columns: CollapseProject keeps multiply-referenced non-cheap aliases
    in their own projection, so codegen evaluates each once per row and
    the plan stops inlining the ~100-element filter lambda five times
    (task binary 1.9 MiB -> the WAV query's normal size; cold codegen
    was the dominant in-bench cost)."""
    W, H = _PNG_W, _PNG_H
    stride = f"(1 + 3 * ({W}))"
    n = f"(({H}) * {stride})"  # filtered-stream length (<= 114 bytes)
    data_hex = "concat_ws('', transform(_fa, v -> lpad(hex(v), 2, '0')))"
    # Adler-32 over the UNCOMPRESSED stream: a = 1 + sum(d); b = n + sum of
    # (n - i) * d[i] (the prefix-sum identity), both mod 65521
    adler_a = "pmod(1 + aggregate(_fa, 0L, (acc, v) -> acc + v), 65521)"
    adler_b = (
        f"pmod({n} + aggregate(zip_with(_fa, sequence(0, {n} - 1),"
        f" (v, i) -> CAST(v AS BIGINT) * ({n} - i)), 0L,"
        f" (acc, x) -> acc + x), 65521)"
    )
    adler_hex = (
        f"concat(lpad(hex({adler_b}), 4, '0'), lpad(hex({adler_a}), 4, '0'))"
    )
    # zlib: 0x78 0x01 header, one FINAL stored block (01 LEN NLEN), data,
    # Adler-32 (big-endian)
    len_le = _le_hex_sql(n, 2)
    nlen_le = _le_hex_sql(f"65535 - {n}", 2)
    zlib_hex = f"concat('7801', '01', {len_le}, {nlen_le}, {data_hex}, {adler_hex})"
    ihdr_data_hex = (
        f"concat(lpad(hex({W}), 8, '0'), lpad(hex({H}), 8, '0'), '0802000000')"
    )
    ihdr_hex = (
        f"concat('0000000d', '49484452', {ihdr_data_hex},"
        f" lpad(hex(crc32(unhex(concat('49484452', {ihdr_data_hex})))), 8, '0'))"
    )
    idat_len_be = f"lpad(hex({n} + 11), 8, '0')"  # 2 zlib hdr + 5 stored hdr + n + 4 adler
    idat_hex = (
        f"concat({idat_len_be}, '49444154', _zl,"
        f" lpad(hex(crc32(unhex(concat('49444154', _zl)))), 8, '0'))"
    )
    return (
        docs.withColumn("_fa", F.expr(_png_filt_array_sql()))
        .withColumn("_zl", F.expr(zlib_hex))
        .select(
            "doc_id",
            F.expr(
                "unhex(concat('89504e470d0a1a0a', "
                f"{ihdr_hex}, {idat_hex}, '0000000049454e44ae426082'))"
            ).alias("payload"),
        )
    )


def _png_sum_sql(c: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(0, width * height),"
        f" i -> (doc_id * {_PNG_A} + (3 * i + {c}) * {_PNG_B}) % 256))"
        " AS BIGINT)"
    )


@register(
    "mm_png_decode_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_PNG_W.replace('INT', 'INTEGER')} AS width,
             {_PNG_H.replace('INT', 'INTEGER')} AS height
      FROM documents
    )
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum(list_transform(range(0, 5), f -> CASE
             WHEN list_contains(list_transform(range(0, height),
                                               r -> (doc_id + r) % 5), f)
             THEN 1 << f ELSE 0 END)) AS INTEGER) AS filter_mask,
           {_png_sum_sql(0)} AS sum_r,
           {_png_sum_sql(1)} AS sum_g,
           {_png_sum_sql(2)} AS sum_b
    FROM d
    """,
    tags=("multimodal", "decode", "png", "image", "arrow-udf", "real-codec"),
)
def mm_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified PNG decode — the real web-corpus image format:
    synthesize a real RGB8 PNG per document (JVM expressions only: chunk
    CRCs via built-in crc32, stored-deflate zlib stream, SQL-computed
    Adler-32, scanlines filtered through all five RFC 2083 filter types
    in rotation), inflate + unfilter it with the dependency-free
    ``operators.multimodal.parse_png`` inside a zero-copy ``mapInArrow``
    stage, and report exact per-channel pixel sums plus the bitmask of
    scanline filter types seen. The oracle rederives sums and mask from
    the generative formula without ever seeing the bytes: a signature,
    chunk-CRC, inflate, Adler, stride, or filter-reconstruction bug is a
    hard decode error or a value-hash mismatch. Scale shape: identical to
    mm_ppm_decode_stats — id-only repartition before in-plan synthesis,
    payloads never shuffle, Arrow buffers move zero-copy."""
    docs = _png_attach_payload(
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return decode_png_stats_arrow(docs)


_PNG_CORRUPT_MOD = 7  # docs with doc_id % 7 == 3 get one payload byte flipped


@register(
    "mm_png_corrupt_quarantine",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_PNG_W.replace('INT', 'INTEGER')} AS width,
             {_PNG_H.replace('INT', 'INTEGER')} AS height,
             doc_id % {_PNG_CORRUPT_MOD} = 3 AS corrupt
      FROM documents
    )
    SELECT doc_id, NOT corrupt AS ok,
           CASE WHEN corrupt THEN 'crc_mismatch' END AS err_class,
           CASE WHEN NOT corrupt
                THEN CAST(width * height AS BIGINT) END AS n_pixels,
           CASE WHEN NOT corrupt THEN
             CAST(list_sum(list_transform(range(0, 3 * width * height),
               k -> (doc_id * {_PNG_A} + k * {_PNG_B}) % 256)) AS BIGINT)
           END AS sum_rgb
    FROM d
    """,
    tags=("multimodal", "decode", "png", "quarantine", "data-quality",
          "arrow-udf", "real-codec"),
)
def mm_png_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISON-TOLERANT decode accounting — the error path of the PNG
    codec, verified end-to-end: every (doc_id % 7 == 3) document's
    payload gets ONE byte overwritten in-plan (the last byte of the IDAT
    chunk tag, a deterministic bit-rot stand-in), and the quarantine
    decoder must (a) classify exactly those documents as failed with
    err_class 'crc_mismatch' — the chunk CRC32 catches the flip before
    any inflate — and (b) still decode every untouched document to the
    exact formula stats. A real crawl ingest runs precisely this shape:
    decode what parses, quarantine what doesn't, never fail the stage;
    the oracle pins WHICH documents land on each side and the full stats
    of the survivors, so both the happy and the error path of
    ``parse_png`` are under the value hash. Scale shape: identical to
    mm_png_decode_stats (id-only repartition, zero-copy Arrow, payloads
    never shuffle)."""
    docs = _png_attach_payload(
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # flip the final byte of the IDAT tag ('T' -> 'U'; offsets are fixed:
    # 8 sig + 25 IHDR + 4 len -> tag bytes 38-41, 1-based overlay pos 41)
    corrupted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _PNG_CORRUPT_MOD == 3,
            F.expr("overlay(payload PLACING unhex('55') FROM 41)"),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    return decode_png_quarantine_arrow(corrupted)


# ---------------------------------------------------- real JPEG decode
#
# Fifth codec, end-to-end verified on its exactly-decodable subset:
# CONSTANT-gray baseline JPEGs. Huffman entropy coding has no SQL
# expression, so unlike PNG the entropy stream cannot be assembled from
# per-row expressions; instead a 256-entry table (one entropy stream per
# possible gray value, built by the ~30-line encoder below at module
# import) enters the plan as ONE array literal and the JVM selects each
# document's entry by its formula value. The headers (DQT/SOF0/DHT/SOS
# with standard Annex-K tables) are byte constants shared by every doc.
# What the value hash then proves: parse_jpeg's full pipeline — marker
# walk, canonical Huffman table build, bit reader with stuffing, DC
# prediction across blocks, dequantize, IDCT, level shift — reproduces
# the exact pixel value for all 256 possible streams, on REAL JPEG files
# a stock viewer opens. Constant blocks are the subset where baseline
# JPEG is lossless (DC-only, quant 1), which is what makes an exact
# oracle possible at all; the lossy general case is covered by the
# encoder-twin round-trip tests in tests/test_operators.py.

_JPEG_W, _JPEG_H = 16, 8  # two horizontal blocks: exercises DC prediction
# per-doc gray value; doc_id >= 0 so plain % (DuckDB) == pmod (Spark)
_JPEG_VAL = "((doc_id * 7 + 13) % 256)"


def _jpeg_ac_table_values() -> bytes:
    """The standard Annex-K AC luminance HUFFVAL list (T.81 Table K.5),
    shared by the DC-only and AC-path fixture builders."""
    return bytes([
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ])


_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]


def _jpeg_canonical_codes(bits: list[int], vals) -> dict:
    """Canonical Huffman assignment per T.81 Annex C (value -> (code,
    length)) — the single encoder-side copy shared by both fixture
    builders (the decode rates they were measured with are in SCALING.md
    "Pure-Python codec throughput boundary"). The decoder under test
    builds its tables independently in operators.multimodal."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_baseline_gray_header(w: int, h: int) -> bytes:
    """SOI + DQT(unit) + SOF0 + DHT(Annex-K luma DC+AC) + SOS for a
    single-component baseline grayscale frame — shared header assembly."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    return (
        b"\xFF\xD8"
        + seg(0xDB, bytes([0]) + bytes([1]) * 64)
        + seg(0xC0, bytes([8]) + struct.pack(">HH", h, w)
              + bytes([1, 1, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(range(12))
              + bytes([0x10]) + bytes(_JPEG_AC_BITS) + _jpeg_ac_table_values())
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )


def _jpeg_fixture_tables() -> tuple[str, list[str]]:
    """(header_hex, [entropy_hex per gray value 0..255]) for the constant
    16x8 grayscale fixture. The entropy encoder here is deliberately
    minimal — DC category/magnitude + EOB per block, second block diff=0
    — and INDEPENDENT of the decoder under test."""
    codes = _jpeg_canonical_codes(_JPEG_DC_BITS, list(range(12)))
    # standard AC luma table's EOB (value 0x00) is code '1010' (4 bits)
    eob = ("1010", 4)

    def entropy(v: int) -> str:
        diff = 8 * (v - 128)  # exact DC of a constant block, quant 1
        s = abs(diff).bit_length()
        c, ln = codes[s]
        bits = format(c, f"0{ln}b")
        if s:
            mag = diff if diff > 0 else diff + (1 << s) - 1
            bits += format(mag, f"0{s}b")
        bits += eob[0]                    # EOB block 1
        c0, l0 = codes[0]
        bits += format(c0, f"0{l0}b") + eob[0]  # block 2: diff 0 + EOB
        bits += "1" * (-len(bits) % 8)    # pad to byte with 1s
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = int(bits[i : i + 8], 2)
            out.append(b)
            if b == 0xFF:
                out.append(0x00)          # byte stuffing
        return out.hex()

    header = _jpeg_baseline_gray_header(_JPEG_W, _JPEG_H)
    return header.hex(), [entropy(v) for v in range(256)]


_JPEG_HEADER_HEX, _JPEG_LUT = _jpeg_fixture_tables()


@register(
    "mm_jpeg_decode_stats",
    oracle=f"""
    SELECT doc_id,
           CAST({_JPEG_W} AS INTEGER) AS width,
           CAST({_JPEG_H} AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_components,
           CAST({_JPEG_VAL} AS INTEGER) AS min_px,
           CAST({_JPEG_VAL} AS INTEGER) AS max_px,
           CAST({_JPEG_W} * {_JPEG_H} * ({_JPEG_VAL}) AS BIGINT) AS sum_px
    FROM documents
    """,
    tags=("multimodal", "decode", "jpeg", "image", "arrow-udf", "real-codec"),
)
def mm_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified JPEG decode on the exactly-decodable subset:
    each document gets a REAL baseline JPEG (constant 16x8 gray, value
    (doc_id*7+13)%256; headers with standard Annex-K tables as byte
    constants, the per-value Huffman entropy stream selected from a
    256-entry precomputed array literal — entropy coding is not
    SQL-expressible, which is exactly why PNG got the fully in-plan
    generator and JPEG gets the table), decoded by the dependency-free
    ``parse_jpeg`` inside a zero-copy ``mapInArrow`` stage. Constant
    DC-only blocks under a unit quant table are the lossless subset of
    baseline JPEG, so the oracle pins EXACT min/max/sum pixel stats from
    the value formula — a Huffman-table, bit-reader, DC-prediction,
    dequantize or IDCT bug in any of the 256 streams is a hard error or
    a value-hash mismatch. The lossy general case is covered by
    encoder-twin round-trip tests. Scale shape: identical to the other
    codec queries (id-only repartition, payloads never shuffle)."""
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{_JPEG_HEADER_HEX}', "
                f"element_at(array({', '.join(repr(e) for e in _JPEG_LUT)}), "
                f"CAST({_JPEG_VAL} AS INT) + 1), 'ffd9'))"
            ).alias("payload"),
        )
    )
    return decode_jpeg_stats_arrow(docs)


# -------------------------------------------- JPEG AC-path decode
#
# The DC-only constant-block family above never walks the
# AC run-length decoder (ZRL/run/EOB), leaving that path covered only by
# local encoder-twin tests. This family closes the gap with a SECOND
# exactly-decodable pattern: one AC coefficient at zigzag index 39 —
# frequency (u,v) = (4,4), the only non-DC basis whose 2-D IDCT is
# RATIONAL (T[x][4] = cos((2x+1)pi/4)/2 = ±sqrt(2)/4, so the (4,4)
# product is exactly ±1/8). Reaching index 39 requires ZRL + ZRL + a
# 6-zero run, so every document's gate row now exercises two ZRLs, a
# nonzero-run AC coefficient, a mid-block EOB, and DC prediction into a
# second DC-only block. With DC = 8(v-128) and AC amplitude = 8*amp the
# block decodes to EXACT integers v ± amp in the checkerboard-of-quads
# sign pattern s(x)s(y), s = [+,-,-,+,+,-,-,+]: 32 pixels at v+amp, 32
# at v-amp (sum 64v), plus the constant second block (64 pixels of v).
# v spans [16, 239] and amp = (v % 8) + 1 <= 8, so no pixel ever clamps
# and min/max/sum are closed-form — the oracle pins them exactly.

_JPEG_AC_V = "(((doc_id * 7 + 13) % 224) + 16)"
_JPEG_AC_AMP = f"(({_JPEG_AC_V} % 8) + 1)"


def _jpeg_ac_entropy_lut() -> list[str]:
    """224 entropy streams (one per gray value v = 16..239, amplitude
    (v % 8) + 1), built by an independent canonical-Huffman encoder —
    shares nothing with the decoder under test but the public T.81
    table construction."""
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, list(range(12)))
    ac = _jpeg_canonical_codes(_JPEG_AC_BITS, _jpeg_ac_table_values())

    def put(bits: str, sym: tuple[int, int]) -> str:
        return bits + format(sym[0], f"0{sym[1]}b")

    def coeff(bits: str, table: dict, run: int, val: int) -> str:
        s = abs(val).bit_length()
        bits = put(bits, table[(run << 4) | s])
        mag = val if val > 0 else val + (1 << s) - 1
        return bits + format(mag, f"0{s}b")

    out = []
    for idx in range(224):
        v = idx + 16
        amp = (v % 8) + 1
        d = 8 * (v - 128)
        s = abs(d).bit_length()
        bits = put("", dc[s])
        if s:
            mag = d if d > 0 else d + (1 << s) - 1
            bits += format(mag, f"0{s}b")
        bits = put(put(bits, ac[0xF0]), ac[0xF0])   # ZRL, ZRL: 32 zeros
        bits = coeff(bits, ac, 6, 8 * amp)          # 6 more -> zigzag 39
        bits = put(bits, ac[0x00])                  # EOB block 1
        bits = put(put(bits, dc[0]), ac[0x00])      # block 2: diff 0, EOB
        bits += "1" * (-len(bits) % 8)
        raw = bytearray()
        for i in range(0, len(bits), 8):
            b = int(bits[i : i + 8], 2)
            raw.append(b)
            if b == 0xFF:
                raw.append(0x00)                    # byte stuffing
        out.append(raw.hex())
    return out


_JPEG_AC_LUT = _jpeg_ac_entropy_lut()


@register(
    "mm_jpeg_ac_decode_stats",
    oracle=f"""
    SELECT doc_id,
           CAST({_JPEG_W} AS INTEGER) AS width,
           CAST({_JPEG_H} AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_components,
           CAST({_JPEG_AC_V} - {_JPEG_AC_AMP} AS INTEGER) AS min_px,
           CAST({_JPEG_AC_V} + {_JPEG_AC_AMP} AS INTEGER) AS max_px,
           CAST(128 * {_JPEG_AC_V} AS BIGINT) AS sum_px
    FROM documents
    """,
    tags=("multimodal", "decode", "jpeg", "image", "arrow-udf",
          "real-codec", "ac-path"),
)
def mm_jpeg_ac_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified JPEG decode through the AC run-length path.
    Same plan shape as :func:`mm_jpeg_decode_stats`
    (shared header constants, 224-entry LUT array literal selected by
    the doc formula, zero-copy ``mapInArrow``), but every entropy
    stream drives ZRL + ZRL + a 6-zero run to a single (4,4) AC
    coefficient — the one non-DC frequency with a rational IDCT — then
    a mid-block EOB and DC prediction into a constant second block.
    A bug anywhere in the run-length decoder (ZRL accounting, run
    skips, EOB-before-63, coefficient extend/dequantize at a non-DC
    zigzag position, the IDCT's AC basis) shifts min/max/sum off the
    closed-form oracle. See the family comment above for the exactness
    argument; the general lossy case stays with the encoder-twin
    round-trip tests."""
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{_JPEG_HEADER_HEX}', "
                f"element_at(array({', '.join(repr(e) for e in _JPEG_AC_LUT)}), "
                f"CAST((doc_id * 7 + 13) % 224 AS INT) + 1), 'ffd9'))"
            ).alias("payload"),
        )
    )
    return decode_jpeg_stats_arrow(docs)


# ----------------------------------------------------- real GIF decode
#
# Sixth codec, end-to-end verified on its exactly-SQL-generable subset.
# GIF's LZW stream is variable-width bit-packed — not expressible as row
# expressions in general — but with minimum code size 7 every code is
# EXACTLY 8 bits until the dictionary reaches 255 entries, so a stream of
# literal root codes with a Clear every <= 120 literals stays byte ==
# code for its whole length: the entropy stream becomes plain bytes the
# JVM can assemble per document (the "uncompressed GIF" encoding every
# LZW patent-workaround encoder shipped). The decoder still runs its
# REAL LZW machine over it — bit reader, clear handling, root lookups,
# dictionary appends (99 per segment) — and the Clear-code count comes
# back as an output column, so the oracle pins that the entropy path
# actually executed, not just the header walk. Full dictionary-growth
# coverage (width bumps, KwKwK, 4096 cap) lives with the encoder-twin
# round-trips in tests/test_operators.py, same split as JPEG's
# lossless-subset gate + lossy twin tests.

_GIF_W, _GIF_H = 16, 8
_GIF_B = "(doc_id % 64)"            # per-doc gray base
_GIF_M = "((doc_id % 7) + 2)"       # per-doc ramp period, 2..8


def _gif_fixture_header(w: int = _GIF_W, h: int = _GIF_H) -> str:
    """Constant GIF87a header hex: logical screen ``w x h``, 128-entry
    global color table of pure grays (i, i, i), full-frame image
    descriptor, LZW minimum code size 7."""
    import struct

    hdr = (
        b"GIF87a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | 0x06, 0, 0])          # GCT present, 2<<6 = 128
    )
    pal = b"".join(bytes([i, i, i]) for i in range(128))
    img = b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
    return (hdr + pal + img + bytes([7])).hex()


_GIF_HEADER_HEX = _gif_fixture_header()


def _gif_idx_hex(lo: int, hi: int) -> str:
    """Spark SQL expr: hex string of the literal codes for pixels
    ``lo..hi`` under the (base + p % m) formula."""
    return (
        f"array_join(transform(sequence({lo}, {hi}), "
        f"p -> lpad(hex({_GIF_B} + (p % {_GIF_M})), 2, '0')), '')"
    )


@register(
    "mm_gif_decode_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m
      FROM documents
    )
    SELECT doc_id,
           CAST({_GIF_W} AS INTEGER) AS width,
           CAST({_GIF_H} AS INTEGER) AS height,
           CAST(128 AS INTEGER) AS n_colors,
           CAST(2 AS INTEGER) AS n_resets,
           CAST(b AS INTEGER) AS min_px,
           CAST(b + m - 1 AS INTEGER) AS max_px,
           CAST(3 * (128 * b
                     + (128 // m) * ((m * (m - 1)) // 2)
                     + ((128 % m) * ((128 % m) - 1)) // 2)
                AS BIGINT) AS sum_px
    FROM s
    """,
    tags=("multimodal", "decode", "gif", "lzw", "image", "arrow-udf",
          "real-codec"),
)
def mm_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified GIF decode on the byte-aligned LZW subset:
    each document gets a REAL GIF87a (16x8, 128-gray global palette,
    pixel index ``(doc_id % 64) + (p % ((doc_id % 7) + 2))`` — a per-doc
    gray ramp), assembled entirely from JVM expressions (constant header
    + two literal-code segments separated by a Clear so every code stays
    one byte; see the family comment), decoded by the dependency-free
    ``parse_gif`` inside zero-copy ``mapInArrow``. The oracle rederives
    min/max/sum from the ramp formula (``sum p % m`` in closed form) and
    pins ``n_resets = 2`` — a bit-reader, clear-handling, root-lookup or
    palette-mapping bug in any of the per-doc streams is a hard error or
    a value-hash mismatch. Real dictionary growth (width bumps, KwKwK,
    4096 cap) is covered by the encoder-twin round-trip tests. Scale
    shape: identical to the other codec queries (id-only repartition
    before payload synthesis; payload bytes never shuffle)."""
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{_GIF_HEADER_HEX}', "
                f"'8380', {_gif_idx_hex(0, 99)}, "
                f"'80', {_gif_idx_hex(100, 127)}, "
                f"'81', '003b'))"
            ).alias("payload"),
        )
    )
    return decode_gif_stats_arrow(docs)


# --- dictionary-path GIF fixture: exercises the width bump + real
# dictionary references under the value hash, not just the encoder-twin
# fuzz. Stream layout (mcs=7, one 133-byte sub-block):
#   Clear, then EXACTLY 127 per-doc literal root codes (width stays 8
#   through code 127, so each code is one byte — in-plan expressible);
#   the append after code 127 fills the table to 256 = 2**8, forcing the
#   standard width bump to 9; then a CONSTANT 5-byte tail packing the
#   9-bit codes [130, 131, 132, EOI]. Slots 130..132 hold the first
#   appends of this segment — [q0,q1], [q1,q2], [q2,q3] where
#   q_i = b + (i % m) — so the dictionary OUTPUT is per-doc and the
#   oracle rederives it in closed form. A decoder that misses the bump
#   (or mis-populates the table) reads garbage 8-bit codes and hard-fails
#   or hash-mismatches.
_GIF_DICT_W, _GIF_DICT_H = 19, 7   # 127 literal + 6 dictionary pixels
_GIF_DICT_HEADER_HEX = _gif_fixture_header(_GIF_DICT_W, _GIF_DICT_H)
_GIF_DICT_TAIL_HEX = "8206110a04"  # LSB-first 9-bit [130,131,132,129]


@register(
    "mm_gif_dict_decode_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m
      FROM documents
    )
    SELECT doc_id,
           CAST({_GIF_DICT_W} AS INTEGER) AS width,
           CAST({_GIF_DICT_H} AS INTEGER) AS height,
           CAST(128 AS INTEGER) AS n_colors,
           CAST(1 AS INTEGER) AS n_resets,
           CAST(b AS INTEGER) AS min_px,
           CAST(b + m - 1 AS INTEGER) AS max_px,
           CAST(3 * (133 * b
                     + (127 // m) * ((m * (m - 1)) // 2)
                     + ((127 % m) * ((127 % m) - 1)) // 2
                     + 2 * (1 % m) + 2 * (2 % m) + (3 % m))
                AS BIGINT) AS sum_px
    FROM s
    """,
    tags=("multimodal", "decode", "gif", "lzw", "image", "arrow-udf",
          "real-codec"),
)
def mm_gif_dict_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END GIF decode through the LZW DICTIONARY path: the stream
    crosses the 8->9 code-width boundary and then emits three dictionary
    codes whose expansions carry per-doc pixels (see the family comment
    above) — the value hash pins the width-bump convention and table
    population that the byte-aligned ``mm_gif_decode_stats`` subset never
    reaches. Sum formula: 127 ramp literals ``b + (p % m)`` plus the six
    dictionary pixels ``2*q0+... = 6b + 2*(1%m) + 2*(2%m) + (3%m)``
    (``q0 = b`` contributes via ``133*b``). Scale shape: identical to the
    other codec queries (id-only repartition before payload synthesis;
    payload bytes never shuffle)."""
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{_GIF_DICT_HEADER_HEX}', "
                f"'8580', {_gif_idx_hex(0, 126)}, "
                f"'{_GIF_DICT_TAIL_HEX}', '003b'))"
            ).alias("payload"),
        )
    )
    return decode_gif_stats_arrow(docs)


_GIF_CORRUPT_MOD = 9  # doc_id % 9 == 4 -> LZW poison; == 7 -> framing poison


@register(
    "mm_gif_corrupt_quarantine",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m,
             doc_id % {_GIF_CORRUPT_MOD} AS c
      FROM documents
    )
    SELECT doc_id,
           c NOT IN (4, 7) AS ok,
           CASE WHEN c = 4 THEN 'lzw_error'
                WHEN c = 7 THEN 'malformed' END AS err_class,
           CASE WHEN c NOT IN (4, 7)
                THEN CAST({_GIF_W} * {_GIF_H} AS BIGINT) END AS n_px,
           CASE WHEN c NOT IN (4, 7)
                THEN CAST(3 * (128 * b
                               + (128 // m) * ((m * (m - 1)) // 2)
                               + ((128 % m) * ((128 % m) - 1)) // 2)
                     AS BIGINT) END AS sum_px
    FROM s
    """,
    tags=("multimodal", "decode", "gif", "lzw", "quarantine",
          "data-quality", "arrow-udf", "real-codec"),
)
def mm_gif_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-PATH verification for the GIF decoder (the PNG quarantine
    pattern on the sixth codec): the same in-plan generator as
    ``mm_gif_decode_stats``, then deterministic in-plan corruption —
    docs with ``doc_id % 9 == 4`` get the stream-opening Clear byte
    overwritten with 0xFF (code 255: not Clear, not EOI, beyond the 128
    roots — the LZW machine itself must reject), docs with ``== 7`` get
    the sub-block LENGTH byte inflated to 0xFF (framing lie: the block
    claims more bytes than exist). The oracle pins per-doc ``ok``, the
    error CLASS (proving the right reject fired, not just any), and the
    untouched docs' exact stats — corruption of one document must never
    perturb another. Same fixed-offset ``overlay`` idiom as the PNG
    quarantine (the constant 408-byte header makes offsets 409/410 the
    length/Clear bytes for every doc)."""
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{_GIF_HEADER_HEX}', "
                f"'8380', {_gif_idx_hex(0, 99)}, "
                f"'80', {_gif_idx_hex(100, 127)}, "
                f"'81', '003b'))"
            ).alias("payload"),
        )
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % _GIF_CORRUPT_MOD == 4,
                F.expr("overlay(payload PLACING unhex('ff') FROM 410)"),
            )
            .when(
                F.col("doc_id") % _GIF_CORRUPT_MOD == 7,
                F.expr("overlay(payload PLACING unhex('ff') FROM 409)"),
            )
            .otherwise(F.col("payload"))
            .alias("payload"),
        )
    )
    return decode_gif_quarantine_arrow(docs)


# ----------------------------------------------------- real ZIP decode
#
# Seventh format: the ZIP container. Each document gets a genuine 2-entry
# archive assembled from JVM expressions — entry "a.bin" STORED with the
# per-doc ramp bytes (b + p % m, the family formula), entry "b.txt"
# DEFLATEd (a constant raw-deflate stream precomputed at plan-build time;
# DEFLATE has no SQL expression, same split as JPEG's Huffman table).
# Every header field is a plan literal EXCEPT entry a's CRC32, which the
# plan computes with Spark's own crc32() — so each row carries a real
# cross-implementation checksum handshake: the JVM writes the CRC,
# python's zlib verifies it (a parser that skips CRC or walks offsets
# wrong hard-fails or hash-mismatches). parse_zip itself is additionally
# pinned byte-for-byte against stdlib zipfile on the 750 real wheel
# entries in tests (the authoritative-reference lesson from the GIF
# width-bump review).


def _zle(v: int, nbytes: int) -> str:
    """Little-endian hex literal of ``v`` in ``nbytes`` bytes."""
    return v.to_bytes(nbytes, "little").hex()


_ZIP_A_NAME = b"a.bin"
_ZIP_A_LEN = 96
_ZIP_B_NAME = b"b.txt"
_ZIP_B_RAW = b"the quick brown fox jumps over the lazy dog 0123456789\n" * 4


def _zip_fixture_parts() -> dict[str, str]:
    """Constant hex fragments of the per-doc archive (see family note)."""
    import zlib

    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    b_def = c.compress(_ZIP_B_RAW) + c.flush()
    b_crc = zlib.crc32(_ZIP_B_RAW) & 0xFFFFFFFF
    fixed = _zle(20, 2) + _zle(0, 2)          # version-needed, flags
    stamp = _zle(0, 2) + _zle(0x21, 2)        # mtime, mdate (constant)
    # local header A: PK\3\4 .. crc (runtime) .. sizes/name
    la_pre = "504b0304" + fixed + _zle(0, 2) + stamp
    la_post = (
        _zle(_ZIP_A_LEN, 4) * 2
        + _zle(len(_ZIP_A_NAME), 2)
        + _zle(0, 2)
        + _ZIP_A_NAME.hex()
    )
    lho_b = 30 + len(_ZIP_A_NAME) + _ZIP_A_LEN
    lb = (
        "504b0304" + fixed + _zle(8, 2) + stamp
        + _zle(b_crc, 4) + _zle(len(b_def), 4) + _zle(len(_ZIP_B_RAW), 4)
        + _zle(len(_ZIP_B_NAME), 2) + _zle(0, 2)
        + _ZIP_B_NAME.hex() + b_def.hex()
    )
    cd_off = lho_b + 30 + len(_ZIP_B_NAME) + len(b_def)
    ca_pre = "504b0102" + _zle(20, 2) + fixed + _zle(0, 2) + stamp
    ca_post = (
        _zle(_ZIP_A_LEN, 4) * 2
        + _zle(len(_ZIP_A_NAME), 2) + _zle(0, 2) * 2
        + _zle(0, 2) * 2 + _zle(0, 4) + _zle(0, 4)
        + _ZIP_A_NAME.hex()
    )
    cb = (
        "504b0102" + _zle(20, 2) + fixed + _zle(8, 2) + stamp
        + _zle(b_crc, 4) + _zle(len(b_def), 4) + _zle(len(_ZIP_B_RAW), 4)
        + _zle(len(_ZIP_B_NAME), 2) + _zle(0, 2) * 2
        + _zle(0, 2) * 2 + _zle(0, 4) + _zle(lho_b, 4)
        + _ZIP_B_NAME.hex()
    )
    cd_size = 2 * 46 + len(_ZIP_A_NAME) + len(_ZIP_B_NAME)
    eocd = (
        "504b0506" + _zle(0, 2) * 2 + _zle(2, 2) * 2
        + _zle(cd_size, 4) + _zle(cd_off, 4) + _zle(0, 2)
    )
    return {
        "la_pre": la_pre, "la_post": la_post, "lb": lb,
        "ca_pre": ca_pre, "ca_post": ca_post, "cb": cb, "eocd": eocd,
    }


_ZIP_PARTS = _zip_fixture_parts()
_ZIP_B_SUM = sum(_ZIP_B_RAW)
_ZIP_B_MIN = min(_ZIP_B_RAW)
_ZIP_B_MAX = max(_ZIP_B_RAW)


@register(
    "mm_zip_decode_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m
      FROM documents
    )
    SELECT doc_id,
           CAST(2 AS INTEGER) AS n_entries,
           CAST(1 AS INTEGER) AS n_deflated,
           CAST({_ZIP_A_LEN} + {len(_ZIP_B_RAW)} AS BIGINT) AS total_usize,
           CAST({_ZIP_A_LEN} * b
                + ({_ZIP_A_LEN} // m) * ((m * (m - 1)) // 2)
                + (({_ZIP_A_LEN} % m) * (({_ZIP_A_LEN} % m) - 1)) // 2
                + {_ZIP_B_SUM} AS BIGINT) AS payload_sum,
           CAST(LEAST(b, {_ZIP_B_MIN}) AS INTEGER) AS min_byte,
           CAST(GREATEST(b + m - 1, {_ZIP_B_MAX}) AS INTEGER) AS max_byte
    FROM s
    """,
    tags=("multimodal", "decode", "zip", "deflate", "container",
          "arrow-udf", "real-codec"),
)
def mm_zip_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified ZIP decode: each document gets a REAL 2-entry
    archive (see the family note above) whose stored entry carries the
    per-doc ramp ``(doc_id % 64) + (p % ((doc_id % 7) + 2))`` and whose
    deflated entry is a constant raw-deflate stream, decoded by the
    dependency-free ``parse_zip`` (EOCD + central-directory walk, local-
    header cross-validation, bounded inflate, per-entry CRC32 and size
    verification) inside zero-copy ``mapInArrow``. Entry a's CRC32 is
    computed by Spark's JVM ``crc32()`` at generation time and re-derived
    by python's ``zlib.crc32`` at decode time — a per-row cross-engine
    checksum handshake. The oracle rederives entry counts, byte totals,
    and min/max/sum from the generative formulas in closed form. Scale
    shape: identical to the other codec queries (id-only repartition
    before payload synthesis; archive bytes never shuffle)."""
    p = _ZIP_PARTS
    stored_hex = (
        f"array_join(transform(sequence(0, {_ZIP_A_LEN - 1}), "
        f"p -> lpad(hex((doc_id % 64) + (p % ((doc_id % 7) + 2))), 2, '0')), '')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(stored_hex).alias("sh"),
        )
        .select(
            "doc_id",
            "sh",
            F.expr("lpad(hex(crc32(unhex(sh))), 8, '0')").alias("ch"),
        )
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{p['la_pre']}', {crc_le}, '{p['la_post']}', sh, "
                f"'{p['lb']}', "
                f"'{p['ca_pre']}', {crc_le}, '{p['ca_post']}', "
                f"'{p['cb']}', '{p['eocd']}'))"
            ).alias("payload"),
        )
    )
    return decode_zip_stats_arrow(docs)


@register(
    "mm_zip_corrupt_quarantine",
    oracle=f"""
    SELECT doc_id,
           (doc_id % 3 = 0) AS ok,
           CASE doc_id % 3 WHEN 1 THEN 'data'
                           WHEN 2 THEN 'structure' END AS err_class,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(2 AS INTEGER) END AS n_entries,
           CASE WHEN doc_id % 3 = 0 THEN CAST(
             {_ZIP_A_LEN} * (doc_id % 64)
             + ({_ZIP_A_LEN} // ((doc_id % 7) + 2))
               * ((((doc_id % 7) + 2) * ((doc_id % 7) + 1)) // 2)
             + (({_ZIP_A_LEN} % ((doc_id % 7) + 2))
                * (({_ZIP_A_LEN} % ((doc_id % 7) + 2)) - 1)) // 2
             + {_ZIP_B_SUM} AS BIGINT) END AS payload_sum
    FROM documents
    """,
    tags=("multimodal", "quarantine", "zip", "error-path", "arrow-udf",
          "real-codec"),
)
def mm_zip_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP error-path triage under the value hash: the same per-doc
    archive as ``mm_zip_decode_stats``, then deterministic in-plan
    corruption — ``doc_id % 3 == 1`` flips a byte INSIDE the stored
    entry's data (container framing intact, CRC32 now wrong — the typed
    ``data`` class), ``doc_id % 3 == 2`` truncates the tail of the EOCD
    record (the typed ``structure`` class), ``% 3 == 0`` stays intact and
    must still decode to the exact closed-form stats. Typed-exception
    classification (ZipDataError vs ZipStructureError), not message
    matching — the GIF quarantine review lesson applied from birth."""
    p = _ZIP_PARTS
    stored_hex = (
        f"array_join(transform(sequence(0, {_ZIP_A_LEN - 1}), "
        f"p -> lpad(hex((doc_id % 64) + (p % ((doc_id % 7) + 2))), 2, '0')), '')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(stored_hex).alias("sh"))
        .select(
            "doc_id", "sh",
            F.expr("lpad(hex(crc32(unhex(sh))), 8, '0')").alias("ch"),
        )
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{p['la_pre']}', {crc_le}, '{p['la_post']}', sh, "
                f"'{p['lb']}', '{p['ca_pre']}', {crc_le}, '{p['ca_post']}', "
                f"'{p['cb']}', '{p['eocd']}'))"
            ).alias("payload"),
        )
        .select(
            "doc_id",
            # byte 37 (1-based) is stored-data offset 36: ramp value
            # b + (1 % m) = b + 1 <= 64, never 0xFF -> CRC always breaks
            F.when(
                F.col("doc_id") % 3 == 1,
                F.expr("overlay(payload PLACING X'FF' FROM 37)"),
            )
            .when(
                F.col("doc_id") % 3 == 2,
                F.expr("substring(payload, 1, length(payload) - 10)"),
            )
            .otherwise(F.col("payload"))
            .alias("payload"),
        )
    )
    return decode_zip_quarantine_arrow(docs)


# ----------------------------------------------------- real gzip decode
#
# Eighth format: RFC 1952 gzip with MULTI-MEMBER streams (the Common
# Crawl shard layout). Per doc: member A is a stored-mode DEFLATE block
# (BTYPE=00 — the one deflate shape with an exact SQL expression)
# carrying the per-doc ramp, with its CRC32 written by Spark's crc32()
# and re-verified by python's zlib (the ZIP handshake again); member B
# is a constant level-9 deflate stream precomputed at plan-build time,
# so the REAL Huffman-inflate path runs on every row too. parse_gzip is
# additionally pinned byte-for-byte against stdlib gzip on 400 real man
# pages in tests.

_GZ_A_LEN = 96
_GZ_B_RAW = b"pack my box with five dozen liquor jugs 0123456789\n" * 5


def _gzip_fixture_parts() -> dict[str, str]:
    import struct
    import zlib

    hdr = "1f8b08000000000000ff"  # CM=8, FLG=0, MTIME=0, XFL=0, OS=255
    # member A: header + stored-block framing; CRC is a runtime expr
    a_pre = hdr + "01" + struct.pack("<HH", _GZ_A_LEN, _GZ_A_LEN ^ 0xFFFF).hex()
    a_isize = struct.pack("<I", _GZ_A_LEN).hex()
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    b_def = c.compress(_GZ_B_RAW) + c.flush()
    b_full = (
        hdr
        + b_def.hex()
        + struct.pack("<I", zlib.crc32(_GZ_B_RAW) & 0xFFFFFFFF).hex()
        + struct.pack("<I", len(_GZ_B_RAW)).hex()
    )
    return {"a_pre": a_pre, "a_isize": a_isize, "b_full": b_full}


_GZ_PARTS = _gzip_fixture_parts()
_GZ_B_SUM = sum(_GZ_B_RAW)
_GZ_B_MIN = min(_GZ_B_RAW)
_GZ_B_MAX = max(_GZ_B_RAW)


@register(
    "mm_gzip_decode_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m
      FROM documents
    )
    SELECT doc_id,
           CAST(2 AS INTEGER) AS n_members,
           CAST({_GZ_A_LEN} + {len(_GZ_B_RAW)} AS BIGINT) AS total_usize,
           CAST({_GZ_A_LEN} * b
                + ({_GZ_A_LEN} // m) * ((m * (m - 1)) // 2)
                + (({_GZ_A_LEN} % m) * (({_GZ_A_LEN} % m) - 1)) // 2
                + {_GZ_B_SUM} AS BIGINT) AS payload_sum,
           CAST(LEAST(b, {_GZ_B_MIN}) AS INTEGER) AS min_byte,
           CAST(GREATEST(b + m - 1, {_GZ_B_MAX}) AS INTEGER) AS max_byte
    FROM s
    """,
    tags=("multimodal", "decode", "gzip", "deflate", "container",
          "multi-member", "arrow-udf", "real-codec"),
)
def mm_gzip_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified gzip decode on a MULTI-MEMBER stream: each
    document gets two concatenated members (see the family note — a
    stored-block member with the per-doc ramp and the JVM↔zlib CRC32
    handshake, then a constant real-Huffman member), decoded by the
    dependency-free ``parse_gzip`` (full RFC 1952 header walk, bounded
    inflate, per-member CRC32 + ISIZE verification) inside zero-copy
    ``mapInArrow``. The oracle rederives member counts and byte stats
    from the generative formulas in closed form; a header-walk,
    member-boundary, or trailer-verification bug hard-fails or
    hash-mismatches. Scale shape: identical to the other codec queries
    (id-only repartition before payload synthesis; bytes never
    shuffle)."""
    p = _GZ_PARTS
    stored_hex = (
        f"array_join(transform(sequence(0, {_GZ_A_LEN - 1}), "
        f"p -> lpad(hex((doc_id % 64) + (p % ((doc_id % 7) + 2))), 2, '0')), '')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(stored_hex).alias("sh"))
        .select(
            "doc_id", "sh",
            F.expr("lpad(hex(crc32(unhex(sh))), 8, '0')").alias("ch"),
        )
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{p['a_pre']}', sh, {crc_le}, "
                f"'{p['a_isize']}', '{p['b_full']}'))"
            ).alias("payload"),
        )
    )
    return decode_gzip_stats_arrow(docs)


@register(
    "mm_gzip_corrupt_quarantine",
    oracle=f"""
    SELECT doc_id,
           (doc_id % 3 = 0) AS ok,
           CASE doc_id % 3 WHEN 1 THEN 'data'
                           WHEN 2 THEN 'structure' END AS err_class,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(2 AS INTEGER) END AS n_members,
           CASE WHEN doc_id % 3 = 0 THEN CAST(
             {_GZ_A_LEN} * (doc_id % 64)
             + ({_GZ_A_LEN} // ((doc_id % 7) + 2))
               * ((((doc_id % 7) + 2) * ((doc_id % 7) + 1)) // 2)
             + (({_GZ_A_LEN} % ((doc_id % 7) + 2))
                * (({_GZ_A_LEN} % ((doc_id % 7) + 2)) - 1)) // 2
             + {_GZ_B_SUM} AS BIGINT) END AS payload_sum
    FROM documents
    """,
    tags=("multimodal", "quarantine", "gzip", "error-path", "arrow-udf",
          "real-codec"),
)
def mm_gzip_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gzip error-path triage under the value hash: the same per-doc
    2-member stream as ``mm_gzip_decode_stats``, then deterministic
    in-plan corruption — ``doc_id % 3 == 1`` flips a byte INSIDE member
    A's stored data (framing intact, CRC32 now wrong — the typed ``data``
    class; offset 16 is ramp value b+1 <= 64, never 0xFF), ``% 3 == 2``
    truncates the final member's trailer (the typed ``structure`` class),
    ``% 3 == 0`` stays intact and must decode to the exact closed-form
    stats. Typed-exception classification from birth."""
    p = _GZ_PARTS
    stored_hex = (
        f"array_join(transform(sequence(0, {_GZ_A_LEN - 1}), "
        f"p -> lpad(hex((doc_id % 64) + (p % ((doc_id % 7) + 2))), 2, '0')), '')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(stored_hex).alias("sh"))
        .select(
            "doc_id", "sh",
            F.expr("lpad(hex(crc32(unhex(sh))), 8, '0')").alias("ch"),
        )
        .select(
            "doc_id",
            F.expr(
                f"unhex(concat('{p['a_pre']}', sh, {crc_le}, "
                f"'{p['a_isize']}', '{p['b_full']}'))"
            ).alias("payload"),
        )
        .select(
            "doc_id",
            # byte 17 (1-based) = stored-data offset 16 (after the 10-byte
            # header + 5-byte stored-block framing + 1): ramp value b+1
            F.when(
                F.col("doc_id") % 3 == 1,
                F.expr("overlay(payload PLACING X'FF' FROM 17)"),
            )
            .when(
                F.col("doc_id") % 3 == 2,
                F.expr("substring(payload, 1, length(payload) - 5)"),
            )
            .otherwise(F.col("payload"))
            .alias("payload"),
        )
    )
    return decode_gzip_quarantine_arrow(docs)


# ----------------------------------------------------- real zlib decode
#
# Ninth format: RFC 1950 zlib (the framing inside PNG IDAT, git objects,
# and countless wire protocols). Even doc_ids carry a per-doc STORED-mode
# stream whose big-endian Adler-32 trailer is computed IN THE PLAN as an
# exact integer fold over the generated ramp (zip_with position weights —
# there is no JVM adler32 function, but Adler-32 is just two modular
# sums, and Catalyst folds them at generate time); odd doc_ids carry a
# constant level-9 stream precomputed at plan-build time so the REAL
# Huffman-inflate path runs on half the rows. parse_zlib is additionally
# pinned byte-identical against streams written by the C zlib library on
# 150 real files x 4 levels in tests.

_ZL_A_LEN = 96
_ZL_B_RAW = b"sphinx of black quartz judge my vow 9876543210\n" * 6


def _zlib_fixture_parts() -> dict[str, str]:
    import struct
    import zlib

    stored_pre = (
        "7801"  # CM=8 CINFO=7, FLG: level 0/FCHECK ok (0x7801 % 31 == 0)
        + "01"  # final stored block
        + struct.pack("<HH", _ZL_A_LEN, _ZL_A_LEN ^ 0xFFFF).hex()
    )
    b_full = zlib.compress(_ZL_B_RAW, 9).hex()
    return {"a_pre": stored_pre, "b_full": b_full}


_ZL_PARTS = _zlib_fixture_parts()
_ZL_B_SUM = sum(_ZL_B_RAW)
_ZL_B_MIN = min(_ZL_B_RAW)
_ZL_B_MAX = max(_ZL_B_RAW)

# the shared per-doc ramp (b = doc_id % 64, m = (doc_id % 7) + 2) and its
# in-plan Adler-32: A = (1 + sum bytes) mod 65521, B = (L + sum of
# (L - p) * byte_p) mod 65521, trailer = big-endian (B << 16) | A
_ZL_RAMP = (
    f"transform(sequence(0, {_ZL_A_LEN - 1}), "
    "p -> (doc_id % 64) + (p % ((doc_id % 7) + 2)))"
)
_ZL_STORED_HEX = (
    f"array_join(transform({_ZL_RAMP}, x -> lpad(hex(x), 2, '0')), '')"
)
_ZL_ADLER_HEX = (
    "lpad(hex("
    f"((({_ZL_A_LEN} + aggregate(zip_with({_ZL_RAMP}, "
    f"sequence({_ZL_A_LEN}, 1, -1), (x, w) -> CAST(x * w AS BIGINT)), "
    "CAST(0 AS BIGINT), (a, x) -> a + x)) % 65521) * 65536) + "
    f"((1 + aggregate({_ZL_RAMP}, CAST(0 AS BIGINT), "
    "(a, x) -> a + x)) % 65521)"
    "), 8, '0')"
)


def _zlib_stored_payload() -> "F.Column":
    p = _ZL_PARTS
    return F.expr(
        f"unhex(concat('{p['a_pre']}', {_ZL_STORED_HEX}, {_ZL_ADLER_HEX}))"
    )


@register(
    "mm_zlib_decode_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN {_ZL_A_LEN}
                     ELSE {len(_ZL_B_RAW)} END AS BIGINT) AS usize,
           CAST(CASE WHEN doc_id % 2 = 0 THEN
                  {_ZL_A_LEN} * b
                  + ({_ZL_A_LEN} // m) * ((m * (m - 1)) // 2)
                  + (({_ZL_A_LEN} % m) * (({_ZL_A_LEN} % m) - 1)) // 2
                ELSE {_ZL_B_SUM} END AS BIGINT) AS payload_sum,
           CAST(CASE WHEN doc_id % 2 = 0 THEN b
                     ELSE {_ZL_B_MIN} END AS INTEGER) AS min_byte,
           CAST(CASE WHEN doc_id % 2 = 0 THEN b + m - 1
                     ELSE {_ZL_B_MAX} END AS INTEGER) AS max_byte
    FROM s
    """,
    tags=("multimodal", "decode", "zlib", "deflate", "rfc1950",
          "arrow-udf", "real-codec"),
)
def mm_zlib_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified RFC 1950 zlib decode: even doc_ids get a
    stored-block stream whose Adler-32 the PLAN computes as an exact
    integer fold (see the family note), odd doc_ids a constant level-9
    stream so the real Huffman path runs too; both decoded by the
    dependency-free ``parse_zlib`` (header checks, bounded inflate,
    big-endian Adler-32 verification, trailing-garbage rejection) inside
    zero-copy ``mapInArrow``. The oracle rederives the byte stats from
    the generative formulas in closed form. Scale shape: identical to
    the other codec queries (id-only repartition before synthesis; bytes
    never shuffle)."""
    p = _ZL_PARTS
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 2 == 0, _zlib_stored_payload())
            .otherwise(F.expr(f"unhex('{p['b_full']}')"))
            .alias("payload"),
        )
    )
    return decode_zlib_stats_arrow(docs)


@register(
    "mm_zlib_corrupt_quarantine",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b, (doc_id % 7) + 2 AS m
      FROM documents
    )
    SELECT doc_id,
           (doc_id % 3 = 0) AS ok,
           CASE doc_id % 3 WHEN 1 THEN 'data'
                           WHEN 2 THEN 'structure' END AS err_class,
           CASE WHEN doc_id % 3 = 0
                THEN CAST({_ZL_A_LEN} AS BIGINT) END AS usize,
           CASE WHEN doc_id % 3 = 0 THEN CAST(
             {_ZL_A_LEN} * b
             + ({_ZL_A_LEN} // m) * ((m * (m - 1)) // 2)
             + (({_ZL_A_LEN} % m) * (({_ZL_A_LEN} % m) - 1)) // 2
             AS BIGINT) END AS payload_sum
    FROM s
    """,
    tags=("multimodal", "quarantine", "zlib", "error-path", "arrow-udf",
          "real-codec"),
)
def mm_zlib_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib error-path triage under the value hash: every doc gets the
    per-doc STORED-mode stream (deterministic corruption classes need the
    deterministic framing), then in-plan corruption — ``doc_id % 3 == 1``
    flips a byte INSIDE the stored data (framing intact, Adler-32 now
    wrong — the typed ``data`` class; stored-data offset 0 holds ramp
    value b <= 63, never 0xFF), ``% 3 == 2`` truncates the trailer to 2
    bytes (the typed ``structure`` class), ``% 3 == 0`` stays intact and
    must decode to the exact closed-form stats. Typed-exception
    classification from birth."""
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _zlib_stored_payload().alias("payload"))
        .select(
            "doc_id",
            # byte 8 (1-based) = stored-data offset 0 (2 header + 5
            # stored-block framing + 1): ramp value b, never 0xFF
            F.when(
                F.col("doc_id") % 3 == 1,
                F.expr("overlay(payload PLACING X'FF' FROM 8)"),
            )
            .when(
                F.col("doc_id") % 3 == 2,
                F.expr("substring(payload, 1, length(payload) - 2)"),
            )
            .otherwise(F.col("payload"))
            .alias("payload"),
        )
    )
    return decode_zlib_quarantine_arrow(docs)


# ------------------------------------------------ WARC/WET ingest stats
#
# The Common Crawl READ PATH as a value-hash gate: each document gets a
# genuine one-member gzip shard whose member is a 2-record WARC stream
# (a constant warcinfo record + a per-doc WET `conversion` record whose
# text is a deterministic a..z ramp), decoded end-to-end by
# parse_gzip -> parse_warc. The gzip member is a stored-mode deflate
# block (SQL-expressible) with the JVM-crc32 <-> zlib handshake.

_WET_TEXT_LEN = 80
_WET_INFO = b"software: spark-graft-wet/1.0\r\n"


def _warc_fixture_parts() -> dict[str, str]:
    import struct

    rec1 = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(_WET_INFO)
        + _WET_INFO
        + b"\r\n\r\n"
    )
    rec2_hdr = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        + b"Content-Length: %d\r\n\r\n" % _WET_TEXT_LEN
    )
    pre = rec1 + rec2_hdr
    tail = b"\r\n\r\n"
    member_len = len(pre) + _WET_TEXT_LEN + len(tail)
    gz_pre = (
        "1f8b08000000000000ff"
        + "01"
        + struct.pack("<HH", member_len, member_len ^ 0xFFFF).hex()
    )
    return {
        "pre": pre.hex(),
        "tail": tail.hex(),
        "gz_pre": gz_pre,
        "isize": struct.pack("<I", member_len).hex(),
        "content_bytes": str(len(_WET_INFO) + _WET_TEXT_LEN),
    }


_WARC_PARTS = _warc_fixture_parts()


@register(
    "mm_warc_wet_ingest_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(1 AS INTEGER) AS n_members,
           CAST(2 AS INTEGER) AS n_records,
           CAST(1 AS INTEGER) AS n_conversion,
           CAST({_WARC_PARTS['content_bytes']} AS BIGINT) AS content_bytes,
           CAST(list_sum(list_transform(range(0, {_WET_TEXT_LEN}),
                p -> 97 + ((doc_id % 64) + p) % 26)) AS BIGINT) AS text_sum
    FROM documents
    """,
    tags=("multimodal", "decode", "warc", "wet", "gzip", "common-crawl",
          "arrow-udf", "real-codec"),
)
def mm_warc_wet_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl ingestion read path END-TO-END under the value
    hash: per document, a genuine gzip shard (stored-mode member, JVM
    ``crc32()`` <-> python ``zlib.crc32`` handshake) containing a
    2-record WARC stream — constant ``warcinfo`` + a per-doc WET
    ``conversion`` record whose 80-byte text is the deterministic
    ``chr(97 + (b + p) % 26)`` ramp — decoded by ``parse_gzip`` then
    ``parse_warc`` inside zero-copy ``mapInArrow``. The oracle rederives
    member/record/type counts and the conversion-text byte sum from the
    generative formula. A header-walk, Content-Length framing, record-
    terminator, or member-boundary bug hard-fails or hash-mismatches.
    At 100 TB this is the shape that reads WET shards: gunzip + record
    split are one zero-shuffle scan stage; only extracted text (or its
    derived stats) ever leaves the task."""
    p = _WARC_PARTS
    text_bin = (
        f"encode(array_join(transform(sequence(0, {_WET_TEXT_LEN - 1}), "
        f"p -> char(97 + ((doc_id % 64) + p) % 26)), ''), 'utf-8')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"concat(unhex('{p['pre']}'), {text_bin}, "
                f"unhex('{p['tail']}'))"
            ).alias("member"),
        )
        .select(
            "doc_id", "member",
            F.expr("lpad(hex(crc32(member)), 8, '0')").alias("ch"),
        )
        .select(
            "doc_id",
            F.expr(
                f"concat(unhex('{p['gz_pre']}'), member, "
                f"unhex({crc_le}), unhex('{p['isize']}'))"
            ).alias("payload"),
        )
    )
    return decode_warc_gz_stats_arrow(docs)


# --------------------------------------------- WARC/HTTP response stats
#
# The RAW-crawl companion to the WET path: Common Crawl's primary WARC
# files carry `response` records whose content is the literal HTTP/1.x
# message. Per doc: one response record (status class varies by
# doc_id % 3, so the status-line length — and therefore every framing
# length — does real per-class work) over the 80-byte a..z ramp body,
# inside the stored-block gzip member with the JVM-crc32 handshake.
# parse_http_response is additionally pinned against the REAL bytes GNU
# Wget wrote in the embedded fixture (tests).

_HTTP_BODY_LEN = 80
_HTTP_CLASSES = {0: (200, "OK"), 1: (301, "Moved Permanently"),
                 2: (404, "Not Found")}


def _warc_http_fixture_parts() -> dict[int, dict[str, str]]:
    import struct

    out: dict[int, dict[str, str]] = {}
    for cls, (code, reason) in _HTTP_CLASSES.items():
        http_hdr = (
            f"HTTP/1.1 {code} {reason}\r\n"
            "Content-Type: text/plain\r\n"
            f"Content-Length: {_HTTP_BODY_LEN}\r\n\r\n"
        ).encode()
        rec_pre = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + b"Content-Length: %d\r\n\r\n" % (len(http_hdr) + _HTTP_BODY_LEN)
            + http_hdr
        )
        tail = b"\r\n\r\n"
        member_len = len(rec_pre) + _HTTP_BODY_LEN + len(tail)
        out[cls] = {
            "pre": rec_pre.hex(),
            "tail": tail.hex(),
            "gz_pre": (
                "1f8b08000000000000ff01"
                + struct.pack("<HH", member_len, member_len ^ 0xFFFF).hex()
            ),
            "isize": struct.pack("<I", member_len).hex(),
        }
    return out


_WARC_HTTP_PARTS = _warc_http_fixture_parts()


@register(
    "mm_warc_http_response_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 301
                ELSE 404 END AS INTEGER) AS status,
           CAST(2 AS INTEGER) AS n_headers,
           CAST({_HTTP_BODY_LEN} AS BIGINT) AS body_len,
           CAST(list_sum(list_transform(range(0, {_HTTP_BODY_LEN}),
                p -> 97 + ((doc_id % 64) + p) % 26)) AS BIGINT) AS body_sum
    FROM documents
    """,
    tags=("multimodal", "decode", "warc", "http", "gzip", "common-crawl",
          "arrow-udf", "real-codec"),
)
def mm_warc_http_response_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAW Common Crawl read path under the value hash: per document
    a genuine gzip shard holding one WARC ``response`` record whose
    content is a literal HTTP/1.x message (status class by
    ``doc_id % 3`` — the status-line length shifts every framing length
    per class), decoded by ``parse_gzip`` -> ``parse_warc`` ->
    ``parse_http_response`` inside zero-copy ``mapInArrow``; the oracle
    rederives status, header count, and the exact byte sum of the HTTP
    body from the generative formula. ``parse_http_response`` is ALSO
    pinned against real GNU-Wget-written response records in tests —
    this query gates the composed three-layer framing end to end.
    Scale shape: identical to the WET query (id-only repartition before
    synthesis; shard bytes never shuffle)."""
    text_bin = (
        f"encode(array_join(transform(sequence(0, {_HTTP_BODY_LEN - 1}), "
        f"p -> char(97 + ((doc_id % 64) + p) % 26)), ''), 'utf-8')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )

    def pick(key: str) -> str:
        p = _WARC_HTTP_PARTS
        return (
            f"CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '{p[0][key]}' "
            f"WHEN 1 THEN '{p[1][key]}' ELSE '{p[2][key]}' END"
        )

    docs = (
        catalog(spark, sf_dir).documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.expr(
                f"concat(unhex({pick('pre')}), {text_bin}, "
                f"unhex({pick('tail')}))"
            ).alias("member"),
        )
        .select(
            "doc_id", "member",
            F.expr("lpad(hex(crc32(member)), 8, '0')").alias("ch"),
        )
        .select(
            "doc_id",
            F.expr(
                f"concat(unhex({pick('gz_pre')}), member, "
                f"unhex({crc_le}), unhex({pick('isize')}))"
            ).alias("payload"),
        )
    )
    return decode_warc_http_stats_arrow(docs)


# ------------------------------------------- WebDataset .tar.gz shards
#
# The COMPRESSED WebDataset layout (shard-00000.tar.gz): the in-plan
# ustar archive of mm_tar_member_index wrapped in a stored-block gzip
# member whose CRC32 rides the JVM<->zlib handshake and whose LEN fields
# are little-endian in-plan hex folds. parse_gzip verifies the wrapper,
# parse_tar verifies every inner header checksum — the composed
# two-layer read a compressed-shard loader performs.


def _le_hex(expr: str, digits: int) -> str:
    """Little-endian hex of an integer SQL expression, `digits` nibbles."""
    h = f"lpad(hex({expr}), {digits}, '0')"
    pairs = ", ".join(
        f"substr({h}, {i}, 2)" for i in range(digits - 1, 0, -2)
    )
    return f"concat({pairs})"


def _gzip_member_sql(m: str) -> str:
    """One stored-mode gzip member framing a binary column ``m``: RFC 1952
    header + 01/LEN/NLEN stored-block framing + CRC32 and ISIZE trailers,
    all JVM expressions. ONE builder feeds the single-member wrap and the
    multi-member (pigz-style) wrap — a hand-copied variant could drift the
    two framings apart silently.
    Callers must bound ``m`` at 65535 bytes (stored mode frames one block
    whose LEN field is 16 bits) — see the raise_error guard in
    :func:`_stored_gzip_guard`."""
    mlen = f"length({m})"
    ch = f"lpad(hex(crc32({m})), 8, '0')"
    return (
        "concat(unhex('1f8b08000000000000ff01'), "
        f"unhex({_le_hex(mlen, 4)}), "
        f"unhex({_le_hex(f'65535 - {mlen}', 4)}), "
        f"{m}, "
        f"unhex(concat(substr({ch}, 7, 2), substr({ch}, 5, 2), "
        f"substr({ch}, 3, 2), substr({ch}, 1, 2))), "
        f"unhex({_le_hex(mlen, 8)}))"
    )


def _stored_gzip_guard(df: DataFrame) -> DataFrame:
    """Reject members over the stored-block 16-bit LEN cap with an
    explanatory in-plan ``raise_error`` — without the guard the
    ``_le_hex`` lpad would silently truncate the hex (and ``65535 - mlen``
    would go negative), surfacing as an opaque NLEN/inflate error deep in
    ``parse_gzip``."""
    return df.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(member) <= 65535 THEN member "
            "ELSE raise_error(concat('webdataset tgz generator: "
            "stored-mode deflate caps one block at 65535 bytes; doc "
            "archive is ', CAST(length(member) AS STRING), ' bytes — "
            "use multi-block or dynamic deflate for bigger shards')) "
            "END"
        ).alias("member"),
    )


def _stored_gzip_wrap(df: DataFrame) -> DataFrame:
    """Wrap a ``(doc_id, member: binary)`` frame in a genuine one-block
    stored-mode gzip member."""
    return _stored_gzip_guard(df).select(
        "doc_id", F.expr(_gzip_member_sql("member")).alias("payload")
    )


#: Non-512-aligned split offset for the pigz-style two-member shard: the
#: gzip member boundary must NOT coincide with a tar block boundary, or
#: the test would pass with a reader that resets tar state per member.
_TGZ_SPLIT_AT = 700


def _stored_gzip_wrap_multimember(df: DataFrame, cut: int = _TGZ_SPLIT_AT) -> DataFrame:
    """Wrap ``(doc_id, member)`` as a TWO-member gzip stream split at a
    non-block-aligned byte offset — the layout parallel compressors
    (pigz, bgzip) emit, where the concatenated inflate is the one
    archive. Every archive is >= 3072 bytes (2 headers + 2 padded bodies
    + the 1024-byte end-of-archive trailer), so both halves are
    non-empty; the single-member 65535-byte guard bounds each half."""
    halves = _stored_gzip_guard(df).select(
        "doc_id",
        F.expr(f"substring(member, 1, {cut})").alias("m1"),
        F.expr(
            f"substring(member, {cut + 1}, length(member) - {cut})"
        ).alias("m2"),
    )
    return halves.select(
        "doc_id",
        F.expr(
            f"concat({_gzip_member_sql('m1')}, {_gzip_member_sql('m2')})"
        ).alias("payload"),
    )


@register(
    "mm_webdataset_tgz_index",
    oracle="""
    SELECT doc_id, CAST(2 AS INTEGER) AS n_members,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(lang)) AS BIGINT) AS cls_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 AS BIGINT) AS archive_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 + 23 AS BIGINT) AS gz_bytes
    FROM documents
    """,
    tags=("multimodal", "webdataset", "tar", "gzip", "shard-packing",
          "arrow-udf", "real-codec"),
)
def mm_webdataset_tgz_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END verified COMPRESSED WebDataset shard indexing: the real
    per-doc ustar archive (header checksums folded in-plan) wrapped in a
    genuine gzip member (stored-mode deflate — LEN/NLEN, CRC32 and ISIZE
    all computed by JVM expressions, CRC via the crc32() <-> zlib
    handshake), decoded by ``parse_gzip`` -> ``parse_tar`` inside
    zero-copy ``mapInArrow``. The oracle rederives every size in closed
    form from the member texts (gzip wrapper adds exactly 23 bytes:
    10-byte header + 5-byte stored-block framing + 8-byte trailer). This
    is the .tar.gz shard read a multimodal training loader performs at
    100 TB; both layers' integrity checks make a framing bug a hard
    error, never a silent misread. Scale shape: the content columns move
    once in the parallelism repartition (they are the payload); decode
    never shuffles."""
    docs = _stored_gzip_wrap(
        catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _tar_payload_col().alias("member"))
    )
    return index_tgz_members_arrow(docs)


@register(
    "mm_tgz_multimember_index",
    oracle="""
    SELECT doc_id, CAST(2 AS INTEGER) AS n_members,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(lang)) AS BIGINT) AS cls_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 AS BIGINT) AS archive_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 + 46 AS BIGINT) AS gz_bytes
    FROM documents
    """,
    tags=("multimodal", "webdataset", "tar", "gzip", "multi-member",
          "pigz", "shard-packing", "arrow-udf", "real-codec"),
)
def mm_tgz_multimember_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIGZ-STYLE multi-member shard indexing: the same
    per-doc ustar archive split across TWO stored-mode gzip members at a
    non-block-aligned byte offset — the framing parallel compressors
    (pigz, bgzip) emit, where a gzip file is RFC 1952's "series of
    members" and the concatenated inflate is the one tar.
    ``index_tgz_members_arrow`` joins the member list before the tar walk
    (a one-member unpack would reject such shards);
    this registration keeps that convention under the external gate.
    The oracle rederives every size in closed form: two gzip wrappers add
    exactly 46 bytes (2 x (10-byte header + 5-byte stored framing +
    8-byte trailer)); member stats are split-invariant. Foreign-bytes pin
    for the same convention: system /usr/bin/gzip members in
    tests/test_operators.py. Scale shape: identical to
    mm_webdataset_tgz_index — content moves once in the parallelism
    repartition, decode never shuffles."""
    docs = _stored_gzip_wrap_multimember(
        catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _tar_payload_col().alias("member"))
    )
    return index_tgz_members_arrow(docs)


_SHARD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _bz2_two_stream_wrap(df: DataFrame, cut: int = _TGZ_SPLIT_AT) -> DataFrame:
    """Compress a ``(doc_id, member: binary)`` frame into TWO genuine
    bzip2 streams split at the same non-block-aligned offset as the gzip
    twin — the pbzip2/lbzip2 parallel-compressor convention (one ``BZh``
    stream per worker chunk; the concatenated decode is the one
    archive). bzip2 has no stored mode, so unlike the gzip wrap this
    stage is REAL compression through the stdlib codec (BWT + Huffman),
    running in the same Arrow-batched scan stage as the tar build —
    payload bytes never shuffle."""

    def rows(doc_id: int, m: bytes):
        m = bytes(m)
        yield (doc_id, bz2.compress(m[:cut], 1) + bz2.compress(m[cut:], 1))

    return _map_payloads(df, _SHARD_SCHEMA, rows, payload_col="member")


def _xz_two_stream_wrap(df: DataFrame, cut: int = _TGZ_SPLIT_AT) -> DataFrame:
    """Compress a ``(doc_id, member: binary)`` frame into TWO genuine
    ``.xz`` streams with an 8-byte null STREAM-PADDING word between them
    — the 4-byte-aligned inter-stream padding the xz spec (§2.2) allows
    and the reference binary decodes through, deliberately present so
    the registered query keeps the padding walk under the external gate
    (stdlib one-shot ``lzma.decompress`` silently TRUNCATES at exactly
    this padding — the trap ``parse_xz`` exists to close)."""

    def rows(doc_id: int, m: bytes):
        m = bytes(m)
        yield (
            doc_id,
            lzma.compress(m[:cut], preset=0)
            + b"\x00" * 8
            + lzma.compress(m[cut:], preset=0),
        )

    return _map_payloads(df, _SHARD_SCHEMA, rows, payload_col="member")


@register(
    "mm_tbz2_multistream_index",
    oracle="""
    SELECT doc_id, CAST(2 AS INTEGER) AS n_members,
           CAST(2 AS INTEGER) AS n_streams,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(lang)) AS BIGINT) AS cls_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 AS BIGINT) AS archive_bytes
    FROM documents
    """,
    tags=("multimodal", "webdataset", "tar", "bzip2", "multi-stream",
          "pbzip2", "shard-packing", "arrow-udf", "real-codec"),
)
def mm_tbz2_multistream_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PBZIP2-STYLE ``.tar.bz2`` shard indexing: the
    per-doc ustar archive (header checksums folded in-plan) split across
    TWO genuine bzip2 streams at a non-block-aligned offset — the
    series-of-streams framing parallel bzip2 compressors emit and the
    reference binary decodes — then read back by
    ``index_tbz2_members_arrow``: the :func:`operators.multimodal.
    parse_bz2` stream walk (structure-checked heads, decoder CRCs,
    decode-time bomb cap — bzip2 carries NO size field to pre-trust),
    the concatenated tar through ``parse_tar``. Third compressor in the
    shard-codec family (stored-gzip, multi-member gzip, now bzip2), and
    the first where the compressed bytes come from a REAL entropy coder
    round-trip rather than stored-mode framing. The oracle rederives the
    UNCOMPRESSED geometry in closed form (tar sizes from the member
    texts; stream/member counts are the split constants); compressed
    size is deliberately absent — bzip2 output length is not
    closed-form, so certifying it would mean trusting the code under
    test. Foreign-bytes pin for the same convention: system ``bzip2``
    binary streams in tests/test_operators.py. Scale shape: identical
    to the gzip shards — content moves once in the parallelism
    repartition; compress, decode and stats all stay in one scan
    stage."""
    docs = _bz2_two_stream_wrap(
        catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _tar_payload_col().alias("member"))
    )
    return index_tbz2_members_arrow(docs)


@register(
    "mm_txz_multistream_index",
    oracle="""
    SELECT doc_id, CAST(2 AS INTEGER) AS n_members,
           CAST(2 AS INTEGER) AS n_streams,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(lang)) AS BIGINT) AS cls_bytes,
           CAST(1024
                + 512 * ((octet_length(encode(text)) + 511) // 512)
                + 512 * ((octet_length(encode(lang)) + 511) // 512)
                + 1024 AS BIGINT) AS archive_bytes
    FROM documents
    """,
    tags=("multimodal", "webdataset", "tar", "xz", "multi-stream",
          "stream-padding", "shard-packing", "arrow-udf", "real-codec"),
)
def mm_txz_multistream_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stream ``.tar.xz`` shard indexing WITH inter-stream padding:
    the per-doc ustar archive split across TWO genuine
    xz streams separated by an 8-byte null stream-padding word — the
    4-byte-aligned padding the xz spec (§2.2) allows between streams and
    the reference binary decodes through. The padding is the point:
    stdlib one-shot ``lzma.decompress`` silently TRUNCATES there
    (measured: xz binary 1200 bytes, stdlib 600 from the same payload),
    so a naive shard reader drops every sample after the first worker
    chunk with no error at all — :func:`operators.multimodal.parse_xz`
    walks magic-checked streams and validated padding words instead,
    and this registration keeps that walk under the external value-hash
    gate (a truncating reader hash-mismatches txt/cls/archive on every
    doc). Fourth shard compressor in the family (stored-gzip,
    multi-member gzip, bzip2, now xz/LZMA2); oracle certifies the
    closed-form UNCOMPRESSED geometry, compressed size deliberately
    absent as for bzip2. Foreign-bytes pin: system ``xz`` binary streams
    in tests/test_operators.py. Scale shape: identical to the other
    shard indexers — content moves once in the parallelism repartition;
    compress, decode and stats stay in one scan stage."""
    docs = _xz_two_stream_wrap(
        catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _tar_payload_col().alias("member"))
    )
    return index_txz_members_arrow(docs)
