"""Multimodal (binary media) columns: schema, chunking, decode plumbing.

Design: media is an opaque ``binary`` column plus a typed metadata struct
(byte length, content hash, declared mime) — the lakehouse-standard layout
for image/audio/video at 100 TB (payloads stay columnar-compressed in
parquet; metadata predicates prune scans without touching bytes).

The Spark-side plumbing here is real and tested: binary encoding,
metadata derivation, fixed-size chunk/frame indexing, and zero-copy
Arrow-batched decode pipelines with stable output schemas: every
``*_arrow`` decoder is a row function over one ``mapInArrow`` kernel,
:func:`_map_payloads` (the generic :func:`decode_media_batched` demo
uses ``mapInPandas``). Eight *real*, dependency-free codecs ship:
PPM/PGM (:func:`parse_pnm`), RIFF/WAV 16-bit PCM (:func:`parse_wav`),
POSIX ustar / WebDataset shards (:func:`parse_tar`), non-interlaced
8-bit PNG (:func:`parse_png`, stdlib ``zlib``), GIF87a with a real
variable-width LZW machine (:func:`parse_gif`), the ZIP container
(:func:`parse_zip`, stdlib ``zlib`` inflate; pinned byte-for-byte
against stdlib zipfile on real wheel archives), multi-member RFC 1952
gzip (:func:`parse_gzip`, pinned against stdlib gzip on real man pages)
— those seven value-hash verified end-to-end against in-plan generators
(GIF on its byte-aligned LZW subset; full dictionary growth covered by
encoder-twin round-trips) — and baseline sequential-DCT JPEG
(:func:`parse_jpeg`, value-hash verified on its exactly-decodable DC and
single-AC subsets, encoder-twin round-trips for the lossy general case).
Remaining formats (webp, video containers) are honest
``NotImplementedError`` gates inside :func:`decode_media_batched` — swap
in PIL/ffmpeg by passing ``decoder=`` without touching the pipeline
shape, batch flow, or schema.

Throughput boundary (measured; SCALING.md "Pure-Python codec throughput
boundary"): the pure-Python decoders are verification-grade, not
throughput-grade — ~5 MB/s/core (~1.7 MP/s) for :func:`parse_png` and
~0.8 MP/s/core (~60–120 KB/s of compressed bytes) for :func:`parse_jpeg`.
That sustains the fixture corpora and low-GB audit scans on a 32-core
node, but at real image-corpus scale (≳10 GB of JPEG or ≳1 TB of PNG per
pipeline run) the ``decoder=`` injection (PIL/libvips/libjpeg-turbo,
100–1000× these rates) is MANDATORY — the Spark plan shape, batching, and
schemas are identical either way, which is the point of the injection
seam.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_binary_payload",
    "media_metadata",
    "chunk_offsets",
    "DECODE_SCHEMA",
    "fake_decoder",
    "parse_pnm",
    "ppm_decoder",
    "decode_media_batched",
    "RESIZE_SCHEMA",
    "thumbnail_dims",
    "resize_media_batched",
    "decode_media_arrow",
    "PPM_STATS_SCHEMA",
    "decode_ppm_stats_arrow",
    "WAV_STATS_SCHEMA",
    "parse_wav",
    "decode_wav_stats_arrow",
    "TAR_INDEX_SCHEMA",
    "parse_tar",
    "index_tar_members_arrow",
    "PNG_STATS_SCHEMA",
    "parse_png",
    "decode_png_stats_arrow",
    "PNG_QUARANTINE_SCHEMA",
    "decode_png_quarantine_arrow",
    "parse_jpeg",
    "jpeg_decoder",
    "png_decoder",
    "pil_decoder",
    "JPEG_STATS_SCHEMA",
    "decode_jpeg_stats_arrow",
    "GifLzwError",
    "parse_gif",
    "gif_decoder",
    "GIF_STATS_SCHEMA",
    "decode_gif_stats_arrow",
    "GIF_QUARANTINE_SCHEMA",
    "decode_gif_quarantine_arrow",
    "ZipStructureError",
    "ZipDataError",
    "parse_zip",
    "ZIP_STATS_SCHEMA",
    "decode_zip_stats_arrow",
    "ZIP_QUARANTINE_SCHEMA",
    "decode_zip_quarantine_arrow",
    "GzipStructureError",
    "GzipDataError",
    "parse_gzip",
    "GZIP_STATS_SCHEMA",
    "decode_gzip_stats_arrow",
    "GZIP_QUARANTINE_SCHEMA",
    "decode_gzip_quarantine_arrow",
    "ZlibStructureError",
    "ZlibDataError",
    "parse_zlib",
    "ZLIB_STATS_SCHEMA",
    "decode_zlib_stats_arrow",
    "ZLIB_QUARANTINE_SCHEMA",
    "decode_zlib_quarantine_arrow",
    "WarcError",
    "parse_warc",
    "TGZ_INDEX_SCHEMA",
    "index_tgz_members_arrow",
    "Bz2StructureError",
    "Bz2DataError",
    "parse_bz2",
    "XzStructureError",
    "XzDataError",
    "parse_xz",
    "TBZ2_INDEX_SCHEMA",
    "TXZ_INDEX_SCHEMA",
    "index_tbz2_members_arrow",
    "index_txz_members_arrow",
    "HttpResponseError",
    "parse_http_response",
    "WARC_HTTP_STATS_SCHEMA",
    "decode_warc_http_stats_arrow",
    "WET_RECORDS_SCHEMA",
    "extract_wet_records_arrow",
    "WARC_STATS_SCHEMA",
    "decode_warc_gz_stats_arrow",
]


def attach_binary_payload(
    df: DataFrame, source_col: str, payload_col: str = "payload"
) -> DataFrame:
    """Materialize a binary payload column (UTF-8 bytes of a string column —
    the fixture stand-in for real media bytes read from object storage)."""
    return df.withColumn(payload_col, F.encode(F.col(source_col), "UTF-8"))


def media_metadata(payload: Column | str, mime: str = "application/octet-stream") -> Column:
    """Typed metadata struct: byte_len, sha256 (hex), declared mime."""
    p = F.col(payload) if isinstance(payload, str) else payload
    return F.struct(
        F.octet_length(p).alias("byte_len"),
        F.sha2(p, 256).alias("sha256"),
        F.lit(mime).alias("mime"),
    )


def chunk_offsets(byte_len: Column | str, chunk_size: int = 4096, stride: int = 1) -> Column:
    """Chunk start offsets for fixed-size chunking (stride>1 = frame
    sampling: every stride-th chunk, the video-keyframe access pattern)."""
    n = F.col(byte_len) if isinstance(byte_len, str) else byte_len
    n_chunks = F.ceil(n / F.lit(chunk_size)).cast("long")
    return F.sequence(
        F.lit(0).cast("long"),
        (n_chunks - 1) * chunk_size,
        F.lit(chunk_size * stride).cast("long"),
    )


from pyspark.sql.types import (  # noqa: E402
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _map_payloads(
    df: DataFrame,
    schema: StructType,
    rows: Callable[[int, bytes | None], Iterator[tuple]],
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The one Arrow hop every binary decoder here runs through: select
    ``(id, payload)``, call ``rows(doc_id, payload)`` for each input row,
    and emit the tuples it yields (in ``schema`` order: one per row for the
    1:1 decoders, N for a fan-out such as :func:`extract_wet_records_arrow`)
    as Arrow batches of ``schema``. ``mapInArrow`` hands the UDF raw
    ``pyarrow.RecordBatch`` objects — no Arrow->pandas->Arrow conversion,
    no pandas boxing of the binary payloads — the lowest-overhead Python
    hop PySpark offers for large binary columns.

    ``schema`` is the only statement of the output types (each column is
    ``pa.array(values, type)`` with the type from ``to_arrow_schema``), and
    columns are built by index, so an empty batch yields an empty batch of
    ``schema``. A NULL payload reaches ``rows`` as ``None``: strict row
    functions fail the job on it (``bytes(None)`` raises), the quarantine
    decoders classify it (:func:`_map_quarantined`)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def batches(it: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in it:
            ids = batch.column(0).to_pylist()
            payloads = batch.column(1).to_pylist()
            out = [t for i, p in zip(ids, payloads) for t in rows(i, p)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([t[k] for t in out], field.type)
                    for k, field in enumerate(arrow_schema)
                ],
                schema=arrow_schema,
            )

    return narrow.mapInArrow(batches, schema)


def _map_quarantined(
    df: DataFrame,
    schema: StructType,
    decode: Callable[[bytes], tuple],
    classify: Callable[[ValueError], str],
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """Poison-tolerant decode over :func:`_map_payloads`: ``schema`` is
    ``(doc_id, ok, err_class, *stats)``. ``decode(bytes) -> stats`` fills
    a good row ``(True, None, *stats)``; a ``ValueError`` — a NULL payload
    counts as one — becomes ``(False, classify(e), None, ...)``. Rows are
    never dropped and bad input never fails the job: one truncated file
    must not kill a 1000-executor ingest stage."""
    n_stats = len(schema.fields) - 3

    def rows(doc_id: int, p: bytes | None) -> Iterator[tuple]:
        try:
            if p is None:
                raise ValueError("NULL payload")
            stats = decode(bytes(p))
        except ValueError as e:
            yield (doc_id, False, classify(e)) + (None,) * n_stats
        else:
            yield (doc_id, True, None, *stats)

    return _map_payloads(df, schema, rows, id_col, payload_col)


def _byte_stats(blob: bytes) -> tuple:
    """``(sum, min, max)`` of decoded bytes; min/max NULL when empty."""
    return (sum(blob), min(blob) if blob else None, max(blob) if blob else None)


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


def fake_decoder(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for an image decoder: derives (width, height,
    format) from the content hash. Replace with PIL/libvips in production."""
    import hashlib

    h = hashlib.md5(payload).digest()
    return (64 + h[0] % 192, 64 + h[1] % 192, ("jpeg", "png", "webp")[h[2] % 3])


# --------------------------------------------------- real codec: PNM (PPM/PGM)
#
# The one raster family simple enough to decode with zero dependencies —
# binary PPM (P6, RGB) and PGM (P5, grayscale): an ASCII header (magic,
# width, height, maxval; '#' comments to end-of-line allowed between
# tokens) followed by raw big-endian sample bytes. This is a REAL parser
# over real bytes, registered as a built-in codec so the decode pipeline
# has an end-to-end value-verified path; a codec name outside
# ``_BUILTIN_CODECS`` raises NotImplementedError (no image libs here).


def _pnm_header(payload: bytes) -> tuple[int, int, int, int, int]:
    """Parse a binary-PNM header: returns (width, height, maxval, channels,
    data_offset). Raises ``ValueError`` on anything malformed — a decode
    pipeline must reject poison inputs, not mis-read them."""
    if len(payload) < 2 or payload[0:1] != b"P" or payload[1:2] not in b"56":
        raise ValueError("not a binary PNM payload (magic != P5/P6)")
    channels = 3 if payload[1:2] == b"6" else 1
    vals: list[int] = []
    i = 2
    n = len(payload)
    while len(vals) < 3:
        # skip whitespace and '#' comments between header tokens
        while i < n and (payload[i] in b" \t\r\n" or payload[i] in b"#"):
            if payload[i] in b"#":
                while i < n and payload[i] not in b"\n":
                    i += 1
            else:
                i += 1
        j = i
        while j < n and payload[j] in b"0123456789":
            j += 1
        if j == i:
            raise ValueError(f"PNM header: expected integer at offset {i}")
        vals.append(int(payload[i:j]))
        i = j
    if i >= n or payload[i] not in b" \t\r\n":
        raise ValueError("PNM header: missing whitespace after maxval")
    i += 1  # exactly ONE whitespace byte separates header from raster
    width, height, maxval = vals
    if not (0 < maxval < 256):
        raise ValueError(f"PNM maxval {maxval} out of 1-byte range")
    if width <= 0 or height <= 0:
        raise ValueError(f"PNM dimensions {width}x{height} invalid")
    return width, height, maxval, channels, i


def parse_pnm(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """Decode a binary PPM/PGM payload: (width, height, maxval, channels,
    raster bytes). Validates the raster is complete."""
    width, height, maxval, channels, off = _pnm_header(payload)
    need = width * height * channels
    data = bytes(payload[off : off + need])
    if len(data) != need:
        raise ValueError(
            f"PNM raster truncated: need {need} bytes, have {len(data)}"
        )
    return width, height, maxval, channels, data


def ppm_decoder(payload: bytes) -> tuple[int, int, str]:
    """(bytes) -> (width, height, format) adapter over :func:`parse_pnm`,
    signature-compatible with :func:`decode_media_batched`'s decoder hook."""
    width, height, _maxval, channels, _data = parse_pnm(payload)
    return (width, height, "ppm" if channels == 3 else "pgm")


#: codecs with real, dependency-free implementations in this container
#: (png/jpeg decoders are defined later in the module; the dict entries
#: are late-bound adapters so definition order doesn't matter)
_BUILTIN_CODECS: dict[str, Callable[[bytes], tuple[int, int, str]]] = {
    "ppm": ppm_decoder,
    "pgm": ppm_decoder,
    "pnm": ppm_decoder,
    "png": lambda payload: png_decoder(payload),
    "jpeg": lambda payload: jpeg_decoder(payload),
    "jpg": lambda payload: jpeg_decoder(payload),
    "gif": lambda payload: gif_decoder(payload),
}


def decode_media_batched(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, str]] | None = None,
    codec: str | None = None,
) -> DataFrame:
    """Arrow-batched decode pipeline via ``mapInPandas``.

    The UDF receives pandas batches (Arrow transfer, no per-row pickling),
    runs the decoder per payload, and emits the stable :data:`DECODE_SCHEMA`.
    ``codec="ppm"/"pgm"/"pnm"/"png"/"jpeg"`` resolves to the real
    dependency-free parsers (:func:`parse_pnm` / :func:`parse_png` /
    :func:`parse_jpeg`); any other codec name (webp, video containers)
    raises ``NotImplementedError`` — the container has no media libraries.
    """
    if codec is not None:
        if codec not in _BUILTIN_CODECS:
            raise NotImplementedError(
                f"real media codec {codec!r} not available in this "
                "environment; pass decoder= with your codec's "
                "(bytes)->(w,h,fmt) function"
            )
        decoder = _BUILTIN_CODECS[codec]
    decode = decoder or fake_decoder
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            payloads = pdf[payload_col]
            decoded = [decode(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "byte_len": payloads.map(len).astype("int64"),
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "format": [d[2] for d in decoded],
                }
            )

    return narrow.mapInPandas(batches, DECODE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
    ]
)


def thumbnail_dims(w: int, h: int, max_dim: int = 128) -> tuple[int, int]:
    """Aspect-preserving thumbnail target, pure integer arithmetic (exactly
    reproducible in SQL): the longer side becomes ``max_dim``, the shorter
    scales by floor(short * max_dim / long), floored at 1. Images already
    within bounds pass through."""
    if w <= max_dim and h <= max_dim:
        return (w, h)
    if w >= h:
        return (max_dim, max(1, h * max_dim // w))
    return (max(1, w * max_dim // h), max_dim)


def resize_media_batched(
    decoded: DataFrame,
    max_dim: int = 128,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    codec: str | None = None,
) -> DataFrame:
    """Arrow-batched resize stage chained after :func:`decode_media_batched`
    — the second ``mapInPandas`` hop of a media pipeline (decode -> resize
    -> feature-extract), demonstrating that intermediate Python stages
    compose as ordinary DataFrames. Target dimensions are the real integer
    thumbnail math (:func:`thumbnail_dims`); the *pixel* resampling is the
    honest stub (``codec=`` raises ``NotImplementedError`` — no image libs
    in this container; pass ``resizer=`` to plug PIL/libvips in without
    changing the pipeline shape)."""
    if codec is not None:
        raise NotImplementedError(
            f"real resampling codec {codec!r} not available in this "
            "environment; pass resizer= with your (bytes, w, h) -> bytes"
        )
    narrow = decoded.select("doc_id", "width", "height")

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            dims = [
                thumbnail_dims(int(w), int(h), max_dim)
                for w, h in zip(pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "out_width": [d[0] for d in dims],
                    "out_height": [d[1] for d in dims],
                }
            )

    return narrow.mapInPandas(batches, RESIZE_SCHEMA)


def decode_media_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, str]] | None = None,
) -> DataFrame:
    """The ``mapInArrow`` twin of :func:`decode_media_batched`: identical
    semantics and output schema, but through the Arrow hop of
    :func:`_map_payloads` (no pandas boxing of the binary payloads) — the
    hot path for 100 TB media decode. Same stub decoder, same oracle."""
    decode = decoder or fake_decoder

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        b = bytes(p)
        yield (doc_id, len(b), *decode(b))

    return _map_payloads(df, DECODE_SCHEMA, rows, id_col, payload_col)


PPM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("maxval", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def decode_ppm_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end decode: parse each binary PPM payload with the
    dependency-free :func:`parse_pnm` and emit per-channel pixel sums —
    the feature-extraction stage of a media pipeline, verifiable
    value-for-value because the sums are exact integers derived from the
    actual raster bytes. Per-channel sums via ``bytes`` slicing (no numpy
    needed, though the slice-stride form is numpy-vectorizable unchanged).
    Grayscale (P5) payloads report the single channel in all three sums."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        width, height, maxval, channels, data = parse_pnm(bytes(p))
        if channels == 3:
            sums = (sum(data[0::3]), sum(data[1::3]), sum(data[2::3]))
        else:
            sums = (sum(data),) * 3
        yield (doc_id, width, height, maxval, width * height, *sums)

    return _map_payloads(df, PPM_STATS_SCHEMA, rows, id_col, payload_col)


# --------------------------------------------------------- RIFF/WAV (audio)
#
# Second real, dependency-free codec (after PNM): canonical RIFF/WAVE with
# 16-bit little-endian PCM — the raw-audio layout every audio training
# pipeline normalizes to before feature extraction. The parser walks the
# RIFF chunk list (honoring the spec's even-byte chunk padding), so payloads
# with extra metadata chunks (LIST/INFO, cue points) decode correctly —
# that chunk walk is exactly what breaks naive header-offset readers on
# real-world files.

WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_pcm", LongType()),
        StructField("sumsq_pcm", LongType()),
        StructField("min_pcm", IntegerType()),
        StructField("max_pcm", IntegerType()),
    ]
)


def parse_wav(payload: bytes) -> tuple[int, int, tuple[int, ...]]:
    """Decode a RIFF/WAVE payload with 16-bit PCM samples:
    ``(sample_rate, n_channels, samples)``.

    Validates the RIFF container (magic, declared size), walks chunks with
    the mandatory even-byte padding between them, requires a ``fmt `` chunk
    declaring PCM (format tag 1) at 16 bits/sample, and unpacks the
    ``data`` chunk as little-endian signed int16. Unknown chunks (LIST,
    cue, bext, ...) are skipped, as the RIFF spec requires."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    declared = struct.unpack("<I", payload[4:8])[0]
    if declared + 8 != len(payload):
        raise ValueError(
            f"RIFF size mismatch: declared {declared + 8}, have {len(payload)}"
        )
    fmt_body: bytes | None = None
    data_body: bytes | None = None
    off = 12
    while off + 8 <= len(payload):
        tag = payload[off : off + 4]
        (size,) = struct.unpack("<I", payload[off + 4 : off + 8])
        body = payload[off + 8 : off + 8 + size]
        if len(body) != size:
            raise ValueError(f"chunk {tag!r} truncated: need {size} bytes")
        if tag == b"fmt ":
            if fmt_body is not None:
                raise ValueError("duplicate fmt chunk")
            fmt_body = body
        elif tag == b"data":
            if data_body is not None:
                raise ValueError("duplicate data chunk")
            data_body = body
        off += 8 + size + (size & 1)  # chunks are padded to even offsets
    # off == len + 1 means the FINAL chunk was odd-sized with its pad byte
    # elided at EOF — many real encoders write that; every byte is still
    # accounted for
    if off not in (len(payload), len(payload) + 1):
        raise ValueError("trailing garbage after last RIFF chunk")
    if fmt_body is None or data_body is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt_body) < 16:
        raise ValueError("fmt chunk too short")
    audio_format, n_channels, sample_rate, _byte_rate, block_align, bits = (
        struct.unpack("<HHIIHH", fmt_body[:16])
    )
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"only 16-bit PCM supported (format={audio_format}, bits={bits})"
        )
    if n_channels < 1 or block_align != 2 * n_channels:
        raise ValueError(f"bad block alignment {block_align} for {n_channels}ch")
    if len(data_body) % block_align:
        raise ValueError("data chunk not frame-aligned")
    samples = struct.unpack(f"<{len(data_body) // 2}h", data_body)
    return sample_rate, n_channels, samples


def decode_wav_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end audio decode: parse each RIFF/WAV payload with the
    dependency-free :func:`parse_wav` and emit exact integer PCM statistics
    (sum, sum of squares, min, max) — the normalization/clipping audit a
    speech pipeline runs before feature extraction. Sum-of-squares is the
    integer core of RMS energy; keeping it unscaled keeps the result
    value-hash-verifiable."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        sample_rate, n_channels, pcm = parse_wav(bytes(p))
        yield (
            doc_id,
            sample_rate,
            n_channels,
            len(pcm),
            sum(pcm),
            sum(x * x for x in pcm),
            # empty data chunk: NULL min/max (matches SQL list_min/
            # list_max over an empty list; schema is nullable)
            min(pcm) if pcm else None,
            max(pcm) if pcm else None,
        )

    return _map_payloads(df, WAV_STATS_SCHEMA, rows, id_col, payload_col)


# ----------------------------------------------------- ustar (tar) container
#
# Third real, dependency-free container (after PNM and RIFF/WAV): POSIX
# ustar — the WebDataset shard format every large multimodal training
# pipeline streams. The walker validates magic, the header CHECKSUM (sum
# of the 512 header bytes with the checksum field read as spaces), octal
# size fields, 512-byte block alignment, and the two-zero-block trailer.

TAR_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_members", IntegerType()),
        StructField("txt_bytes", LongType()),
        StructField("cls_bytes", LongType()),
        StructField("archive_bytes", LongType()),
    ]
)


def parse_tar(payload: bytes) -> list[tuple[str, int, int]]:
    """Walk a ustar archive: returns ``[(member_name, size, data_offset)]``.

    Validates per-header magic ('ustar'), the checksum, octal size
    parsing, block alignment, and requires the end-of-archive marker
    (two 512-byte zero blocks). Indexes REGULAR FILES only: pax metadata
    ('x'/'g'), GNU longname ('L'/'K'), directory and link entries are
    walked over (their data blocks advance the offset but emit no
    member), and the ustar prefix field is honored for long paths.
    Typeflag '7' (POSIX contiguous file) is indexed as a regular file,
    matching every mainstream tar reader. A
    pax-renamed member surfaces under its ustar fallback name — full pax
    path resolution is out of scope for this indexer. Raises
    ``ValueError`` on any violation (including undecodable names) — an
    index builder must reject corrupt shards, not mis-index them."""
    members: list[tuple[str, int, int]] = []
    off = 0
    n = len(payload)
    while True:
        if off + 512 > n:
            raise ValueError("tar truncated: no end-of-archive marker")
        header = payload[off : off + 512]
        if header == b"\0" * 512:
            # end marker is TWO zero blocks
            if payload[off + 512 : off + 1024] != b"\0" * 512:
                raise ValueError("tar: second end-of-archive block missing")
            return members
        if header[257:262] != b"ustar":
            raise ValueError(f"tar: bad magic at offset {off}")
        stored = int(header[148:155].rstrip(b"\0 ") or b"0", 8)
        summed = sum(header[:148]) + 8 * 0x20 + sum(header[156:])
        if stored != summed:
            raise ValueError(
                f"tar: checksum mismatch at offset {off}: "
                f"stored {stored}, computed {summed}"
            )
        try:
            name = header[:100].split(b"\0", 1)[0].decode("utf-8")
            prefix = header[345:500].split(b"\0", 1)[0].decode("utf-8")
        except UnicodeDecodeError as e:  # contract: ValueError on ANY violation
            raise ValueError(f"tar: undecodable name at offset {off}: {e}")
        if prefix:  # ustar prefix field: long paths split as prefix/name
            name = f"{prefix}/{name}"
        size = int(header[124:135].rstrip(b"\0 ") or b"0", 8)
        typeflag = header[156:157]
        # index only regular files ('0', NUL, and POSIX contiguous '7',
        # which tar readers treat as regular); metadata entries (pax
        # 'x'/'g', GNU longname 'L'/'K', dirs '5', links '1'/'2',
        # devices...) are walked over — their data blocks still advance
        # the offset
        if typeflag in (b"0", b"\0", b"7"):
            members.append((name, size, off + 512))
        off += 512 + ((size + 511) // 512) * 512


def index_tar_members_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Index WebDataset-style tar shards: parse each archive with the
    dependency-free :func:`parse_tar` and emit the per-document member
    statistics a streaming loader needs before it touches any payload —
    member count, per-extension byte sizes, total archive bytes."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        b = bytes(p)
        members = parse_tar(b)
        yield (
            doc_id,
            len(members),
            sum(s for name, s, _ in members if name.endswith(".txt")),
            sum(s for name, s, _ in members if name.endswith(".cls")),
            len(b),
        )

    return _map_payloads(df, TAR_INDEX_SCHEMA, rows, id_col, payload_col)


# ------------------------------------------------------------ PNG (RGB8)
#
# Fourth real, dependency-free codec: non-interlaced 8-bit RGB PNG — the
# real web-corpus image format (stdlib ``zlib`` supplies inflate and
# crc32, so no external library is needed). The parser validates the
# signature, per-chunk CRC32, IHDR-first / IEND-last ordering, IDAT
# contiguity, and decodes all five scanline filter types (None / Sub /
# Up / Average / Paeth) exactly as RFC 2083 §6 specifies.

PNG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("filter_mask", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


#: Hard ceiling on declared image dimensions for the pure-Python decoders.
#: Header fields (PNG IHDR w/h, JPEG SOF w/h) are attacker-controlled and
#: drive raster allocations BEFORE any pixel data is validated — a ~200-byte
#: poison file declaring 65535x65535 would otherwise commit ~12.8 GB per
#: task. 2^26 pixels (67 MP, ~201 MB RGB) is far above any fixture and a
#: sane per-task bound at 100 TB fan-out; callers with trusted corpora can
#: raise it per call via ``max_pixels=``.
_MAX_DECODE_PIXELS = 1 << 26


def parse_png(
    payload: bytes, max_pixels: int = _MAX_DECODE_PIXELS
) -> tuple[int, int, list[int], bytes]:
    """Decode a non-interlaced 8-bit RGB (color type 2) PNG.

    Returns ``(width, height, filters, raw)`` where ``filters`` is the
    per-scanline filter-type list (proof each scanline's filter byte was
    actually read) and ``raw`` is the unfiltered RGB raster
    (``3 * width * height`` bytes, row-major, R G B interleave).

    Reject-don't-misread contract (same as the PNM/WAV/tar parsers):
    raises ``ValueError`` on bad signature, any chunk CRC32 mismatch,
    missing/duplicate/short IHDR, IHDR not first, non-contiguous IDAT
    runs, unsupported depth/color/compression/filter-method/interlace,
    filter type > 4, decompressed size mismatch, missing IEND, or
    trailing bytes after IEND. Declared dimensions are bounded twice
    before any allocation: ``w*h`` must not exceed ``max_pixels``, and
    the IHDR raster must be reachable from the IDAT bytes present under
    deflate's ~1032:1 ceiling — so a ~1 MB poison IDAT of deflated zeros
    behind a 2^32-1 x 2^32-1 IHDR is rejected, not inflated. Ancillary
    chunks (tEXt, gAMA, pHYs, ...) are CRC-checked and skipped. Palette (PLTE), 16-bit, grayscale and
    alpha variants are out of scope for this decoder and REJECTED, never
    guessed at."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    off = 8
    ihdr: tuple[int, int] | None = None
    idat = bytearray()
    seen_idat = False  # any IDAT chunk seen (zero-length counts)
    idat_done = False  # set once a non-IDAT chunk follows IDAT
    seen_iend = False
    first = True
    while off < len(payload):
        if off + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", payload[off : off + 4])
        ctype = payload[off + 4 : off + 8]
        if off + 12 + length > len(payload):
            raise ValueError(f"truncated chunk {ctype!r}")
        data = payload[off + 8 : off + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[off + 8 + length : off + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"chunk {ctype!r} CRC mismatch")
        if first and ctype != b"IHDR":
            raise ValueError("IHDR must be the first chunk")
        first = False
        if ctype == b"IHDR":
            if ihdr is not None:
                raise ValueError("duplicate IHDR")
            if length != 13:
                raise ValueError("IHDR must be 13 bytes")
            w, h, depth, color, comp, fmeth, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if w < 1 or h < 1:
                raise ValueError("zero-dimension image")
            if depth != 8 or color != 2:
                raise ValueError(
                    f"only 8-bit RGB supported (depth={depth}, color={color})"
                )
            if comp != 0 or fmeth != 0:
                raise ValueError("unknown compression/filter method")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            ihdr = (w, h)
        elif ctype == b"IDAT":
            if idat_done:
                raise ValueError("non-contiguous IDAT chunks")
            seen_idat = True
            idat += data
        else:
            if seen_idat:
                idat_done = True
            if ctype == b"IEND":
                if length:
                    raise ValueError("IEND must be empty")
                seen_iend = True
                off += 12 + length
                break
            # ancillary chunk: CRC already verified, content skipped
        off += 12 + length
    if not seen_iend:
        raise ValueError("missing IEND")
    if off != len(payload):
        raise ValueError("trailing bytes after IEND")
    if ihdr is None:
        raise ValueError("missing IHDR")
    if not seen_idat or not idat:
        raise ValueError("missing IDAT")
    w, h = ihdr
    if w * h > max_pixels:
        raise ValueError(
            f"png: declared {w}x{h} exceeds max_pixels={max_pixels}"
        )
    stride = 1 + 3 * w
    expected = h * stride
    # deflate expands at most ~1032:1 (fixed-Huffman runs), so an IHDR
    # whose raster can't possibly fit in the IDAT bytes present is
    # structurally a lie — reject before allocating anything
    if expected > 1032 * len(idat) + 64:
        raise ValueError(
            f"png: IHDR raster {expected} B impossible from"
            f" {len(idat)} B of IDAT"
        )
    # bounded inflate: the expected raster size is known from IHDR, so cap
    # decompression there instead of trusting the stream — a hostile IDAT
    # of deflated zeros otherwise inflates ~1000:1 before any size check
    # (decompression bomb), OOM-killing the executor
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"IDAT inflate failed: {e}")
    if len(raw) > expected or d.unconsumed_tail:
        raise ValueError(f"decompressed size exceeds expected {expected}")
    if not d.eof:
        # stream cut off mid-member (or declares more data than expected
        # but we stopped reading) — flush to distinguish; reject either way
        raise ValueError("IDAT stream truncated or oversized")
    if d.unused_data:
        raise ValueError("trailing bytes after zlib stream in IDAT")
    if len(raw) != expected:
        raise ValueError(
            f"decompressed size {len(raw)} != expected {expected}"
        )
    out = bytearray(3 * w * h)
    filters: list[int] = []
    row_bytes = 3 * w
    for r in range(h):
        f = raw[r * stride]
        if f > 4:
            raise ValueError(f"scanline {r}: unknown filter type {f}")
        filters.append(f)
        base = r * row_bytes
        line = raw[r * stride + 1 : (r + 1) * stride]
        for j in range(row_bytes):
            x = line[j]
            a = out[base + j - 3] if j >= 3 else 0
            b = out[base - row_bytes + j] if r >= 1 else 0
            if f == 0:
                v = x
            elif f == 1:
                v = (x + a) & 255
            elif f == 2:
                v = (x + b) & 255
            elif f == 3:
                v = (x + (a + b) // 2) & 255
            else:  # Paeth
                c = out[base - row_bytes + j - 3] if (r >= 1 and j >= 3) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (x + pred) & 255
            out[base + j] = v
    return w, h, filters, bytes(out)


def decode_png_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end image decode for the web-corpus format: parse each
    PNG with the dependency-free :func:`parse_png` and emit exact
    per-channel pixel sums plus the bitmask of scanline filter types seen
    (``sum(1 << f)`` over distinct f) — the mask proves the decoder
    actually read and applied each row's filter, not just the header."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        w, h, filters, raw = parse_png(bytes(p))
        yield (
            doc_id,
            w,
            h,
            w * h,
            sum(1 << f for f in set(filters)),
            sum(raw[0::3]),
            sum(raw[1::3]),
            sum(raw[2::3]),
        )

    return _map_payloads(df, PNG_STATS_SCHEMA, rows, id_col, payload_col)


PNG_QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", BooleanType()),
        StructField("err_class", StringType()),
        StructField("n_pixels", LongType()),
        StructField("sum_rgb", LongType()),
    ]
)


def decode_png_quarantine_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Poison-tolerant PNG decode: parse each payload with
    :func:`parse_png`, QUARANTINE failures instead of failing the job —
    the accounting a 100 TB ingest needs (a web crawl always contains
    truncated/bit-rotten files, and one bad shard must not kill a
    1000-executor stage). Emits per-document ``ok``, a coarse
    ``err_class`` (``crc_mismatch`` / ``malformed``; NULL when ok), and
    the decode stats for good rows (NULL when quarantined). The strict
    variant stays the right tool when corruption must halt the build."""

    def decode(b: bytes) -> tuple:
        w, h, _filters, raw = parse_png(b)
        return (w * h, sum(raw))

    return _map_quarantined(
        df,
        PNG_QUARANTINE_SCHEMA,
        decode,
        lambda e: "crc_mismatch" if "CRC" in str(e) else "malformed",
        id_col,
        payload_col,
    )


# --------------------------------------------------------- JPEG (baseline)
#
# Fifth dependency-free codec: BASELINE sequential-DCT JPEG (ITU T.81) —
# the other real web-corpus image format. Scope is deliberately tight and
# every unsupported shape is REJECTED, never guessed at: 8-bit precision,
# 1-component grayscale or 3-component 4:4:4 YCbCr only (no chroma
# subsampling), no progressive/arithmetic/hierarchical modes, no restart
# markers, no 16-bit quantization tables. Unlike PNG there is no
# oracle-verifiable in-plan generator (Huffman entropy coding is not
# expressible in SQL), so verification is unit-level: a pure-Python
# encoder twin in the tests (independent implementation) plus hand-built
# known-answer streams. JPEG is LOSSY — round-trips assert a +-2 pixel
# tolerance from DCT float rounding, exactness is asserted only on the
# known-answer DC blocks.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; any other 0xFF-marker inside the scan is a hard error
    (restart markers are out of scope and must reject, not desync)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.acc = 0

    def read_bit(self) -> int:
        if self.bits == 0:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: entropy data truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("jpeg: truncated after 0xFF")
                nxt = self.data[self.pos]
                self.pos += 1
                if nxt != 0x00:
                    raise ValueError(
                        f"jpeg: unexpected marker 0xFF{nxt:02X} in scan"
                    )
            self.acc = b
            self.bits = 8
        self.bits -= 1
        return (self.acc >> self.bits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_build_huffman(counts: list[int], values: bytes) -> dict:
    """(BITS, HUFFVAL) -> {(length, code): value} per T.81 Annex C."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        # T.81 C.2: every code of this length must fit in `length` bits
        # (code is the next-free value, so <= 2^length after assignment).
        # An overfull BITS vector would otherwise alias entries silently
        # — misdecoding corrupt tables instead of rejecting them.
        if code > (1 << length):
            raise ValueError(
                f"jpeg: overfull Huffman table at code length {length}"
            )
        code <<= 1
    return table


def _jpeg_decode_huffman(r: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("jpeg: invalid Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _jpeg_idct_tables() -> list[list[float]]:
    import math

    c = [math.sqrt(0.5)] + [1.0] * 7
    return [
        [c[u] * math.cos((2 * x + 1) * u * math.pi / 16) / 2 for u in range(8)]
        for x in range(8)
    ]


#: _IDCT_M[x][u] = C(u) * cos((2x+1)u*pi/16) / 2 — precomputed so each
#: block is two 8x8 matrix passes (128 fused multiply-adds) instead of
#: 4096 math.cos calls (measured ~6x on the corpus decode)
_IDCT_M = _jpeg_idct_tables()


def _jpeg_idct_2d(block: list[float]) -> list[float]:
    """Reference 2-D inverse DCT (T.81 A.3.3), separable, float, with
    precomputed basis tables."""
    M = _IDCT_M
    tmp = [0.0] * 64
    for y in range(8):
        row = block[y * 8 : y * 8 + 8]
        base = y * 8
        for x in range(8):
            mx = M[x]
            tmp[base + x] = (
                row[0] * mx[0] + row[1] * mx[1] + row[2] * mx[2]
                + row[3] * mx[3] + row[4] * mx[4] + row[5] * mx[5]
                + row[6] * mx[6] + row[7] * mx[7]
            )
    out = [0.0] * 64
    for x in range(8):
        col = tmp[x::8]
        for y in range(8):
            my = M[y]
            out[y * 8 + x] = (
                col[0] * my[0] + col[1] * my[1] + col[2] * my[2]
                + col[3] * my[3] + col[4] * my[4] + col[5] * my[5]
                + col[6] * my[6] + col[7] * my[7]
            )
    return out


def parse_jpeg(
    payload: bytes, max_pixels: int = _MAX_DECODE_PIXELS
) -> tuple[int, int, int, bytes]:
    """Decode a baseline sequential-DCT JPEG.

    Returns ``(width, height, n_components, raster)`` — the raster is
    row-major grayscale bytes (1 component) or interleaved RGB (3
    components, BT.601 YCbCr conversion with clamping).

    Reject-don't-misread contract: raises ``ValueError`` on missing SOI,
    progressive/arithmetic/hierarchical SOF markers, precision != 8,
    chroma subsampling (any sampling factor != 1), 16-bit quantization
    tables, restart intervals/markers, undefined table references,
    overfull Huffman tables (T.81 C.2 BITS overflow), invalid Huffman
    codes, truncated entropy data, or trailing garbage after EOI.
    Declared SOF dimensions are bounded before the component planes are
    allocated: ``w*h`` must not exceed ``max_pixels`` and the entropy
    bytes present must plausibly encode the declared block count (>= 2
    bits per block per component), so a ~200-byte poison frame declaring
    65535x65535 is rejected, not materialized."""
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, [(comp_id, tq)])
    n = len(payload)
    while True:
        if pos + 4 > n:
            raise ValueError("jpeg: truncated before SOS")
        if payload[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD8:
            raise ValueError("jpeg: duplicate SOI")
        if marker == 0xD9 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (EOI / TEM / RSTn) carry no length field;
            # none is legal before SOS in baseline — reject rather than
            # misparse the following bytes as a segment length
            raise ValueError(f"jpeg: unexpected marker 0xFF{marker:02X}")
        (seglen,) = (int.from_bytes(payload[pos : pos + 2], "big"),)
        if seglen < 2:
            raise ValueError("jpeg: bad segment length")
        body = payload[pos + 2 : pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("jpeg: truncated segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                tbl = list(body[i + 1 : i + 65])
                if len(tbl) != 64:
                    raise ValueError("jpeg: short quant table")
                qt[tq] = tbl
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("jpeg: short Huffman table header")
                tc, th = body[i] >> 4, body[i] & 0xF
                counts = list(body[i + 1 : i + 17])
                nv = sum(counts)
                values = bytes(body[i + 17 : i + 17 + nv])
                if len(values) != nv:
                    raise ValueError("jpeg: short Huffman table")
                huff[(tc, th)] = _jpeg_build_huffman(counts, values)
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            if frame is not None:
                raise ValueError("jpeg: duplicate SOF")
            if len(body) < 6:
                raise ValueError("jpeg: short SOF segment")
            prec, h, w, nc = body[0], int.from_bytes(body[1:3], "big"), \
                int.from_bytes(body[3:5], "big"), body[5]
            if prec != 8:
                raise ValueError(f"jpeg: precision {prec} unsupported")
            if nc not in (1, 3):
                raise ValueError(f"jpeg: {nc} components unsupported")
            if w < 1 or h < 1:
                raise ValueError("jpeg: zero dimension")
            if len(body) < 6 + 3 * nc:
                raise ValueError("jpeg: short SOF component list")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci], body[7 + 3 * ci], body[8 + 3 * ci]
                if samp != 0x11:
                    raise ValueError(
                        "jpeg: chroma subsampling unsupported (4:4:4 only)"
                    )
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"jpeg: SOF{marker - 0xC0} (non-baseline mode) unsupported"
            )
        elif marker == 0xDD:  # DRI
            if len(body) < 2 or int.from_bytes(body[:2], "big") != 0:
                raise ValueError("jpeg: restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            if len(body) < 1:
                raise ValueError("jpeg: short SOS segment")
            ns = body[0]
            h, w, comps = frame
            if ns != len(comps):
                raise ValueError("jpeg: non-interleaved scans unsupported")
            if len(body) < 1 + 2 * ns + 3:
                raise ValueError("jpeg: short SOS component list")
            scan = []  # (tq, dc_table, ac_table)
            for si in range(ns):
                cs, tables = body[1 + 2 * si], body[2 + 2 * si]
                td, ta = tables >> 4, tables & 0xF
                match = [tq for cid, tq in comps if cid == cs]
                if not match:
                    raise ValueError("jpeg: scan references unknown component")
                if (0, td) not in huff or (1, ta) not in huff:
                    raise ValueError("jpeg: undefined Huffman table")
                if match[0] not in qt:
                    raise ValueError("jpeg: undefined quant table")
                scan.append((qt[match[0]], huff[(0, td)], huff[(1, ta)]))
            pos = pos + seglen
            return _jpeg_decode_scan(payload, pos, h, w, scan, max_pixels)
        # APPn / COM / others: skipped (length-delimited)
        pos += seglen


def _jpeg_decode_scan(
    payload: bytes,
    pos: int,
    h: int,
    w: int,
    scan: list,
    max_pixels: int = _MAX_DECODE_PIXELS,
) -> tuple[int, int, int, bytes]:
    nc = len(scan)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    if w * h > max_pixels:
        raise ValueError(
            f"jpeg: declared {w}x{h} exceeds max_pixels={max_pixels}"
        )
    # every block costs >= 2 bits (1-bit DC size code + 1-bit EOB is the
    # floor; byte-stuffing only adds bytes), so entropy data shorter than
    # bw*bh*nc/4 bytes cannot encode the declared frame — reject the
    # structural lie before allocating the planes
    if (len(payload) - pos) * 8 < bw * bh * nc * 2:
        raise ValueError(
            f"jpeg: {len(payload) - pos} B of entropy data cannot encode"
            f" {bw}x{bh} blocks x {nc} components"
        )
    r = _JpegBitReader(payload, pos)
    planes = [bytearray(bw * 8 * bh * 8) for _ in range(nc)]
    pred = [0] * nc
    for by in range(bh):
        for bx in range(bw):
            for ci, (q, dc_t, ac_t) in enumerate(scan):
                coeffs = [0.0] * 64
                s = _jpeg_decode_huffman(r, dc_t)
                diff = _jpeg_extend(r.read_bits(s), s) if s else 0
                pred[ci] += diff
                coeffs[0] = pred[ci] * q[0]
                k = 1
                while k < 64:
                    rs = _jpeg_decode_huffman(r, ac_t)
                    rr, ss = rs >> 4, rs & 0xF
                    if ss == 0:
                        if rr == 15:
                            k += 16  # ZRL: sixteen zeros
                            if k == 64:
                                break  # ZRL may complete the block (T.81
                                # permits it; libjpeg emits/accepts it)
                            if k > 64:
                                raise ValueError("jpeg: ZRL past block end")
                            continue
                        break  # EOB
                    k += rr
                    if k > 63:
                        raise ValueError("jpeg: AC run past block end")
                    coeffs[_JPEG_ZIGZAG[k]] = (
                        _jpeg_extend(r.read_bits(ss), ss) * q[k]
                    )
                    k += 1
                px = _jpeg_idct_2d(coeffs)
                plane = planes[ci]
                stride = bw * 8
                for yy in range(8):
                    base = (by * 8 + yy) * stride + bx * 8
                    for xx in range(8):
                        v = int(round(px[yy * 8 + xx] + 128))
                        plane[base + xx] = 0 if v < 0 else (255 if v > 255 else v)
    # the bit reader consumed whole bytes (its final partial byte is the
    # pad); the very next byte must open the EOI marker
    tail = r.pos
    if tail < len(payload) and payload[tail] != 0xFF:
        raise ValueError("jpeg: garbage after entropy data")
    if payload[tail : tail + 2] != b"\xFF\xD9":
        raise ValueError("jpeg: missing EOI")
    if tail + 2 != len(payload):
        raise ValueError("jpeg: trailing bytes after EOI")
    stride = bw * 8
    if nc == 1:
        out = bytearray(w * h)
        for y in range(h):
            out[y * w : (y + 1) * w] = planes[0][y * stride : y * stride + w]
        return w, h, 1, bytes(out)
    out = bytearray(3 * w * h)
    py, pcb, pcr = planes
    for y in range(h):
        for x in range(w):
            Y = py[y * stride + x]
            Cb = pcb[y * stride + x] - 128
            Cr = pcr[y * stride + x] - 128
            i = 3 * (y * w + x)
            for j, v in enumerate(
                (Y + 1.402 * Cr, Y - 0.344136 * Cb - 0.714136 * Cr,
                 Y + 1.772 * Cb)
            ):
                vi = int(round(v))
                out[i + j] = 0 if vi < 0 else (255 if vi > 255 else vi)
    return w, h, 3, bytes(out)


def jpeg_decoder(payload: bytes) -> tuple[int, int, str]:
    """(bytes) -> (width, height, format) adapter over :func:`parse_jpeg`,
    signature-compatible with :func:`decode_media_batched`."""
    width, height, _nc, _raster = parse_jpeg(payload)
    return (width, height, "jpeg")


def png_decoder(payload: bytes) -> tuple[int, int, str]:
    """(bytes) -> (width, height, format) adapter over :func:`parse_png`,
    signature-compatible with :func:`decode_media_batched`."""
    width, height, _filters, _raster = parse_png(payload)
    return (width, height, "png")


def pil_decoder() -> Callable[[bytes], tuple[int, int, str]]:
    """The ``decoder=`` injection seam made concrete:
    a (bytes) -> (width, height, format) decoder backed by PIL/Pillow —
    the native-library swap-in the module docstring declares MANDATORY at
    real image-corpus scale (pure-Python decoders measured ~5 MB/s/core).
    Import-guarded factory: raises ImportError where Pillow is absent
    (this sandbox), so callers/tests gate on importability exactly like
    the live-Postgres suite. Format names are lower-cased to match the
    built-in adapters ('png', 'jpeg', 'gif'), and the full raster is
    decoded (``load()``), not just the header — the honest comparison
    against :func:`parse_png`/:func:`parse_jpeg`, which decode rasters
    too."""
    import io

    from PIL import Image

    def _decode(payload: bytes) -> tuple[int, int, str]:
        with Image.open(io.BytesIO(payload)) as im:
            im.load()
            return (im.width, im.height, (im.format or "").lower())

    return _decode


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_components", IntegerType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
        StructField("sum_px", LongType()),
    ]
)


def decode_jpeg_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end JPEG decode stats: parse each baseline JPEG with
    the dependency-free :func:`parse_jpeg` (full marker walk, Huffman
    entropy decode, dequantize, IDCT) and emit exact raster statistics."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        w, h, nc, raster = parse_jpeg(bytes(p))
        yield (doc_id, w, h, nc, min(raster), max(raster), sum(raster))

    return _map_payloads(df, JPEG_STATS_SCHEMA, rows, id_col, payload_col)


class GifLzwError(ValueError):
    """LZW entropy-machine reject (vs a structural/framing ``ValueError``
    from the container walk) — the quarantine classifier keys on the
    exception TYPE, not message substrings, so structural errors whose
    text mentions "code" (e.g. a bad LZW minimum code size) stay
    ``malformed``."""


def _gif_lzw_decode(
    data: bytes, mcs: int, expected: int
) -> tuple[bytearray, int]:
    """GIF variable-width LZW decode (LSB-first bit packing, clear/EOI
    codes, dictionary growth to 4096 with the deferred-clear convention).
    Uses the standard GIF convention shared by giflib / Pillow / browsers:
    the code width bumps when the decoder's table reaches ``2**width``
    entries (checked after each append), and the post-code append always
    happens — verified byte-exact against real encoder streams (CPython's
    idlelib/Tix icon GIFs) in the fixture tests. Returns
    ``(indexes, n_resets)`` — the color-index stream plus how many
    Clear codes the stream carried (a decode-path witness the stats
    queries can pin). Reject-don't-misread: raises :class:`GifLzwError`
    on a first-code that is not a root, a code beyond the next free slot,
    output overrun past ``expected``, or a stream that ends without EOI.
    """
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    n_roots = 1 << mcs

    def fresh() -> list[bytes | None]:
        t: list[bytes | None] = [bytes([i]) for i in range(n_roots)]
        t += [None, None]  # clear / eoi slots are never dereferenced
        return t

    table = fresh()
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    resets = 0
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise GifLzwError("gif: entropy data ends before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = fresh()
            width = mcs + 1
            prev = None
            resets += 1
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= n_roots:
                raise GifLzwError("gif: first code after clear not a root")
            entry = table[code]
        elif code < len(table):
            if table[code] is None:
                raise GifLzwError("gif: reference to clear/EOI slot")
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise GifLzwError("gif: code beyond next free slot")
        assert entry is not None
        out += entry
        if len(out) > expected:
            raise GifLzwError("gif: more pixels than the image declares")
        # The decoder's append after code k reconstructs the encoder's
        # append after emitting code k-1, so it happens after EVERY data
        # code (including the final one — the encoder bump-checks before
        # emitting EOI with the same table size). Width bumps when the
        # table fills the current width; at width 12 the table caps at
        # 4096 and freezes (deferred clear).
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out, resets


def parse_gif(
    payload: bytes, max_pixels: int = _MAX_DECODE_PIXELS
) -> tuple[int, int, int, int, bytes]:
    """Decode a GIF87a image (single full-frame image, global color
    table, no interlace).

    Returns ``(width, height, n_colors, n_resets, raster)`` — the raster
    is row-major interleaved RGB from the global palette; ``n_resets``
    counts LZW Clear codes (see :func:`_gif_lzw_decode`).

    Reject-don't-misread contract (sixth codec of the family): raises
    ``ValueError`` on a non-GIF87a signature (GIF89a's extension blocks
    are out of scope and REJECTED, never skipped), a missing global
    color table, extension/unknown blocks, a frame that is not the full
    logical screen at offset (0,0), local color tables, interlace, an
    LZW minimum code size outside [2, 8], any LZW structural error
    (:func:`_gif_lzw_decode`), a pixel count other than exactly
    ``width*height``, a color index outside the palette, sub-block
    framing errors, a missing trailer, or trailing bytes after it.
    Declared dimensions are capped at ``max_pixels`` before any
    allocation, and the LZW decoder is output-bounded by the declared
    pixel count — the PNG/JPEG dimension-bomb hardening applied from
    birth."""
    import struct

    if payload[:6] != b"GIF87a":
        raise ValueError("gif: not GIF87a")
    if len(payload) < 13:
        raise ValueError("gif: truncated logical screen descriptor")
    w, h = struct.unpack("<HH", payload[6:10])
    packed, _bg, aspect = payload[10], payload[11], payload[12]
    if w < 1 or h < 1:
        raise ValueError("gif: zero dimension")
    if w * h > max_pixels:
        raise ValueError(
            f"gif: declared {w}x{h} exceeds max_pixels={max_pixels}"
        )
    if not packed & 0x80:
        raise ValueError("gif: global color table required")
    if aspect != 0:
        raise ValueError("gif: nonzero aspect ratio byte unsupported")
    n_colors = 2 << (packed & 0x07)
    pos = 13
    pal = payload[pos : pos + 3 * n_colors]
    if len(pal) != 3 * n_colors:
        raise ValueError("gif: truncated global color table")
    pos += 3 * n_colors
    if pos >= len(payload):
        raise ValueError("gif: missing image descriptor")
    if payload[pos] == 0x21:
        raise ValueError("gif: extension blocks are not GIF87a")
    if payload[pos] != 0x2C:
        raise ValueError(f"gif: expected image descriptor, got {payload[pos]:#x}")
    if pos + 10 > len(payload):
        raise ValueError("gif: truncated image descriptor")
    left, top, iw, ih = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
    ipacked = payload[pos + 9]
    pos += 10
    if (left, top) != (0, 0) or (iw, ih) != (w, h):
        raise ValueError("gif: frame must cover the full logical screen")
    if ipacked & 0x80:
        raise ValueError("gif: local color tables unsupported")
    if ipacked & 0x40:
        raise ValueError("gif: interlace unsupported")
    if pos >= len(payload):
        raise ValueError("gif: missing LZW minimum code size")
    mcs = payload[pos]
    pos += 1
    if not 2 <= mcs <= 8:
        raise ValueError(f"gif: LZW minimum code size {mcs} out of range")
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("gif: unterminated data sub-blocks")
        blen = payload[pos]
        pos += 1
        if blen == 0:
            break
        if pos + blen > len(payload):
            raise ValueError("gif: truncated data sub-block")
        data += payload[pos : pos + blen]
        pos += blen
    if pos >= len(payload) or payload[pos] != 0x3B:
        raise ValueError("gif: missing trailer")
    if pos + 1 != len(payload):
        raise ValueError("gif: trailing bytes after trailer")
    indexes, resets = _gif_lzw_decode(bytes(data), mcs, w * h)
    # Shortfall is a pixel-count violation (the stream's EOI arrived
    # early), same reject class as the in-machine overrun.
    if len(indexes) != w * h:
        raise GifLzwError(
            f"gif: decoded {len(indexes)} pixels for a {w}x{h} frame"
        )
    out = bytearray(3 * w * h)
    for i, ix in enumerate(indexes):
        if ix >= n_colors:
            raise ValueError("gif: color index outside the palette")
        out[3 * i : 3 * i + 3] = pal[3 * ix : 3 * ix + 3]
    return w, h, n_colors, resets, bytes(out)


def gif_decoder(payload: bytes) -> tuple[int, int, str]:
    """(bytes) -> (width, height, format) adapter over :func:`parse_gif`,
    signature-compatible with :func:`decode_media_batched`."""
    width, height, _nc, _resets, _raster = parse_gif(payload)
    return (width, height, "gif")


GIF_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_colors", IntegerType()),
        StructField("n_resets", IntegerType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
        StructField("sum_px", LongType()),
    ]
)


def decode_gif_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end GIF decode stats: parse each GIF87a with the
    dependency-free :func:`parse_gif` (header walk, LZW entropy decode,
    palette mapping) and emit exact raster statistics plus the LZW
    Clear-code count — the witness that the entropy path actually ran."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        w, h, nc, resets, raster = parse_gif(bytes(p))
        yield (doc_id, w, h, nc, resets, min(raster), max(raster), sum(raster))

    return _map_payloads(df, GIF_STATS_SCHEMA, rows, id_col, payload_col)


GIF_QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", BooleanType()),
        StructField("err_class", StringType()),
        StructField("n_px", LongType()),
        StructField("sum_px", LongType()),
    ]
)


def decode_gif_quarantine_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Poison-tolerant GIF decode: parse each payload with
    :func:`parse_gif`, QUARANTINE failures instead of failing the job
    (the PNG quarantine's pattern applied to the sixth codec). Emits
    per-document ``ok``, a coarse ``err_class`` — ``lzw_error`` when the
    entropy machine rejected (root/code/EOI/pixel-count violations,
    i.e. :class:`GifLzwError`), ``malformed`` for structural/framing
    lies (any other ``ValueError``) — and the decode stats for
    good rows (NULL when quarantined)."""

    def decode(b: bytes) -> tuple:
        w, h, _nc, _resets, raster = parse_gif(b)
        return (w * h, sum(raster))

    return _map_quarantined(
        df,
        GIF_QUARANTINE_SCHEMA,
        decode,
        lambda e: "lzw_error" if isinstance(e, GifLzwError) else "malformed",
        id_col,
        payload_col,
    )


# ---------------------------------------------------------------- ZIP/ustar²
#
# Seventh real format of the family: the ZIP container (PKWARE APPNOTE
# layout — EOCD record, central directory, local file headers; methods
# STORED and DEFLATE, the only two the python wheel/jar/docx ecosystem
# emits). Unlike the pixel codecs this one has an AUTHORITATIVE stdlib
# reference implementation (zipfile) and REAL fixtures in the container
# (/usr/share/python-wheels/*.whl, 750 entries) — the tests cross-check
# every entry's name, sizes, CRC, and decoded bytes against zipfile, so
# the decoder is pinned to real-world ZIP writers, not to a twin
# (the convention lesson from the GIF width-bump review).

_ZIP_MAX_ENTRIES = 4096
_ZIP_MAX_TOTAL_UNCOMPRESSED = 1 << 26  # 64 MiB — same bomb posture as PNG


class ZipStructureError(ValueError):
    """Container-level framing violation (signatures, EOCD bookkeeping,
    overlap, unsupported feature). Distinct from :class:`ZipDataError` so
    quarantine classification is typed, not substring-matched."""


class ZipDataError(ValueError):
    """Entry-level payload violation (inflate failure, size or CRC
    mismatch) inside a structurally valid container."""


def parse_zip(
    payload: bytes,
    max_entries: int = _ZIP_MAX_ENTRIES,
    max_total_uncompressed: int = _ZIP_MAX_TOTAL_UNCOMPRESSED,
) -> list[tuple[str, int, int, bytes]]:
    """Decode a ZIP archive: walk the end-of-central-directory record and
    central directory, cross-validate each local file header, inflate or
    copy every entry, and VERIFY size and CRC32 per entry.

    Returns ``[(name, method, usize, data)]`` in central-directory order.

    Reject-don't-misread contract: raises :class:`ZipStructureError` on a
    missing/inconsistent EOCD (including comment-length bookkeeping that
    does not land exactly on end-of-file), multi-disk archives, ZIP64
    markers, entry counts past ``max_entries``, encryption or
    data-descriptor flag bits, methods other than STORED(0)/DEFLATE(8),
    a local header that contradicts its central entry (signature, name,
    method), or entry data regions that overlap; :class:`ZipDataError`
    when an entry's bytes fail to inflate, inflate to the wrong length,
    leave compressed bytes unconsumed, or mismatch the recorded CRC32.
    Total declared uncompressed size is capped BEFORE any allocation
    (``max_total_uncompressed``), and each inflate is output-bounded by
    the declared size — a 42.zip-style quine never expands (the PNG
    bounded-inflate hardening applied from birth)."""
    import struct
    import zlib

    n = len(payload)
    # EOCD: fixed 22 bytes + comment; scan the legal comment window for
    # the signature whose comment length lands exactly on end-of-file.
    lo = max(0, n - 22 - 0xFFFF)
    eocd_pos = -1
    scan = payload.rfind(b"PK\x05\x06", lo)
    while scan != -1:
        if scan + 22 <= n:
            (clen,) = struct.unpack("<H", payload[scan + 20 : scan + 22])
            if scan + 22 + clen == n:
                eocd_pos = scan
                break
        scan = payload.rfind(b"PK\x05\x06", lo, scan)
    if eocd_pos < 0:
        raise ZipStructureError("zip: no end-of-central-directory record")
    disk, cd_disk, n_disk, n_total, cd_size, cd_off = struct.unpack(
        "<HHHHII", payload[eocd_pos + 4 : eocd_pos + 20]
    )
    if disk != 0 or cd_disk != 0 or n_disk != n_total:
        raise ZipStructureError("zip: multi-disk archives unsupported")
    if n_total > max_entries:
        raise ZipStructureError(
            f"zip: {n_total} entries exceeds max_entries={max_entries}"
        )
    if 0xFFFFFFFF in (cd_size, cd_off) or n_total == 0xFFFF:
        raise ZipStructureError("zip: ZIP64 unsupported")
    if cd_off + cd_size != eocd_pos:
        raise ZipStructureError("zip: central directory does not abut EOCD")
    # central directory walk
    pos = cd_off
    cd = []
    total_usize = 0
    for _ in range(n_total):
        if payload[pos : pos + 4] != b"PK\x01\x02":
            raise ZipStructureError("zip: bad central file header signature")
        (
            _ver_made,
            _ver_need,
            flags,
            method,
            _mtime,
            _mdate,
            crc,
            csize,
            usize,
            nlen,
            elen,
            klen,
            _disk_no,
            _iattr,
            _eattr,
            lho,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", payload[pos + 4 : pos + 46])
        if flags & 0x0001:
            raise ZipStructureError("zip: encrypted entries unsupported")
        if flags & 0x0008:
            raise ZipStructureError("zip: data-descriptor entries unsupported")
        if method not in (0, 8):
            raise ZipStructureError(f"zip: compression method {method} unsupported")
        if 0xFFFFFFFF in (csize, usize, lho):
            raise ZipStructureError("zip: ZIP64 unsupported")
        name = payload[pos + 46 : pos + 46 + nlen]
        if len(name) != nlen:
            raise ZipStructureError("zip: truncated central directory")
        pos += 46 + nlen + elen + klen
        if pos > eocd_pos:
            raise ZipStructureError("zip: central directory overruns EOCD")
        if method == 0 and csize != usize:
            raise ZipStructureError("zip: stored entry with csize != usize")
        total_usize += usize
        cd.append((name, flags, method, crc, csize, usize, lho))
    if pos != eocd_pos:
        raise ZipStructureError("zip: central directory size mismatch")
    if total_usize > max_total_uncompressed:
        raise ZipStructureError(
            f"zip: declared {total_usize} uncompressed bytes exceeds "
            f"max_total_uncompressed={max_total_uncompressed}"
        )
    # local headers + payload decode, with overlap rejection
    out = []
    spans = []
    for name, flags, method, crc, csize, usize, lho in cd:
        if payload[lho : lho + 4] != b"PK\x03\x04":
            raise ZipStructureError("zip: bad local file header signature")
        l_nlen, l_elen = struct.unpack("<HH", payload[lho + 26 : lho + 30])
        l_name = payload[lho + 30 : lho + 30 + l_nlen]
        if l_name != name:
            raise ZipStructureError("zip: local/central name mismatch")
        dstart = lho + 30 + l_nlen + l_elen
        dend = dstart + csize
        if dend > cd_off:
            raise ZipStructureError("zip: entry data overruns central directory")
        spans.append((lho, dend))
        data = payload[dstart:dend]
        if len(data) != csize:
            raise ZipStructureError("zip: truncated entry data")
        if method == 0:
            raw = data
        else:
            d = zlib.decompressobj(-15)
            try:
                # max_length must be usize + 1, never usize: zlib treats
                # max_length=0 as UNLIMITED, so a crafted entry declaring
                # usize=0 over a deflate bomb would inflate unbounded
                # before the length check. The extra byte detects overrun
                # while keeping output hard-bounded for every declared size.
                raw = d.decompress(data, usize + 1)
            except zlib.error as e:
                raise ZipDataError(f"zip: inflate failed: {e}")
            if (
                len(raw) > usize
                or d.unconsumed_tail
                or (not d.eof and d.decompress(b"", 1))
            ):
                raise ZipDataError("zip: entry inflates past declared size")
            if not d.eof:
                raise ZipDataError("zip: deflate stream truncated")
        if len(raw) != usize:
            raise ZipDataError(
                f"zip: entry decoded to {len(raw)} bytes, declared {usize}"
            )
        if zlib.crc32(raw) & 0xFFFFFFFF != crc:
            raise ZipDataError("zip: CRC32 mismatch")
        out.append((name.decode("utf-8", "strict"), method, usize, raw))
    spans.sort()
    for (_, e0), (s1, _) in zip(spans, spans[1:]):
        if s1 < e0:
            raise ZipStructureError("zip: overlapping entry data")
    return out


ZIP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_entries", IntegerType()),
        StructField("n_deflated", IntegerType()),
        StructField("total_usize", LongType()),
        StructField("payload_sum", LongType()),
        StructField("min_byte", IntegerType()),
        StructField("max_byte", IntegerType()),
    ]
)


def decode_zip_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end ZIP decode stats: walk + inflate + CRC-verify each
    archive with :func:`parse_zip` and emit exact statistics over every
    decoded byte of every entry."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        entries = parse_zip(bytes(p))
        blob = b"".join(raw for _, _, _, raw in entries)
        yield (
            doc_id,
            len(entries),
            sum(1 for _, m, _, _ in entries if m == 8),
            sum(u for _, _, u, _ in entries),
            *_byte_stats(blob),
        )

    return _map_payloads(df, ZIP_STATS_SCHEMA, rows, id_col, payload_col)


ZIP_QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", BooleanType()),
        StructField("err_class", StringType()),
        StructField("n_entries", IntegerType()),
        StructField("payload_sum", LongType()),
    ]
)


def decode_zip_quarantine_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Quarantine path for ZIP ingest: decode each archive, mapping
    failures to their TYPED class — ``structure`` for container framing
    (:class:`ZipStructureError`), ``data`` for entry-integrity failures
    (:class:`ZipDataError`) — never dropping rows (the corpus-triage
    contract shared by the PNG/GIF quarantine decoders). Any other
    ``ValueError`` (undecodable names, a NULL payload) is ``structure``."""

    def decode(b: bytes) -> tuple:
        entries = parse_zip(b)
        return (len(entries), sum(sum(raw) for _, _, _, raw in entries))

    return _map_quarantined(
        df,
        ZIP_QUARANTINE_SCHEMA,
        decode,
        lambda e: "data" if isinstance(e, ZipDataError) else "structure",
        id_col,
        payload_col,
    )


# ----------------------------------------------------------------- gzip
#
# Eighth real format: RFC 1952 gzip, INCLUDING multi-member streams —
# the web-corpus wrapper (Common Crawl WET/WARC shards are concatenated
# gzip members; stdlib gzip is the authoritative reference and the
# container ships hundreds of real fixtures under /usr/share/man).

_GZIP_MAX_TOTAL_UNCOMPRESSED = 1 << 26  # same bomb posture as PNG/ZIP


class GzipStructureError(ValueError):
    """Header/trailer framing violation (magic, reserved flags,
    truncation, trailing garbage)."""


class GzipDataError(ValueError):
    """Payload violation inside a well-framed member (inflate failure,
    CRC32 or ISIZE mismatch, over-cap expansion)."""


def parse_gzip(
    payload: bytes,
    max_total_uncompressed: int = _GZIP_MAX_TOTAL_UNCOMPRESSED,
) -> list[bytes]:
    """Decode a gzip stream: walk every member's header (FEXTRA / FNAME /
    FCOMMENT walked, FHCRC *verified* — RFC 1952 §2.3.1 CRC16 over the
    preceding header bytes), inflate its raw-DEFLATE body,
    and VERIFY the CRC32 and ISIZE trailer. Returns one ``bytes`` per
    member, in order — multi-member streams (``cat a.gz b.gz``, the
    Common Crawl shard layout) decode to their member list, exactly like
    stdlib ``gzip.decompress`` concatenated.

    Reject-don't-misread: :class:`GzipStructureError` on a bad magic or
    compression method, reserved FLG bits, a truncated header/trailer,
    or bytes after a member that do not start a new member;
    :class:`GzipDataError` on inflate failure, a member expanding past
    ``max_total_uncompressed`` (checked DURING inflate — gzip's size
    field trails the data, so a 42.gz quine is stopped by the cap, not
    trusted), or a CRC32/ISIZE mismatch."""
    import struct
    import zlib

    out: list[bytes] = []
    pos, n = 0, len(payload)
    total = 0
    if n == 0:
        raise GzipStructureError("gzip: empty payload")
    while pos < n:
        if n - pos < 10:
            raise GzipStructureError("gzip: truncated member header")
        if payload[pos : pos + 2] != b"\x1f\x8b":
            raise GzipStructureError("gzip: bad magic")
        cm, flg = payload[pos + 2], payload[pos + 3]
        if cm != 8:
            raise GzipStructureError(f"gzip: compression method {cm} unsupported")
        if flg & 0xE0:
            raise GzipStructureError("gzip: reserved FLG bits set")
        p = pos + 10
        if flg & 0x04:  # FEXTRA
            if p + 2 > n:
                raise GzipStructureError("gzip: truncated FEXTRA length")
            (xlen,) = struct.unpack("<H", payload[p : p + 2])
            p += 2 + xlen
        if flg & 0x08:  # FNAME
            q = payload.find(b"\x00", p)
            if q < 0:
                raise GzipStructureError("gzip: unterminated FNAME")
            p = q + 1
        if flg & 0x10:  # FCOMMENT
            q = payload.find(b"\x00", p)
            if q < 0:
                raise GzipStructureError("gzip: unterminated FCOMMENT")
            p = q + 1
        if flg & 0x02:  # FHCRC: CRC16 of all header bytes before it
            if p + 2 > n:
                raise GzipStructureError("gzip: truncated FHCRC field")
            (hcrc,) = struct.unpack("<H", payload[p : p + 2])
            if zlib.crc32(payload[pos:p]) & 0xFFFF != hcrc:
                raise GzipDataError("gzip: header CRC16 (FHCRC) mismatch")
            p += 2
        if p > n:
            raise GzipStructureError("gzip: truncated member header fields")
        d = zlib.decompressobj(-15)
        try:
            data = d.decompress(payload[p:], max_total_uncompressed - total + 1)
        except zlib.error as e:
            raise GzipDataError(f"gzip: inflate failed: {e}")
        total += len(data)
        if total > max_total_uncompressed:
            raise GzipDataError(
                f"gzip: expands past max_total_uncompressed="
                f"{max_total_uncompressed}"
            )
        if not d.eof:
            raise GzipDataError("gzip: deflate stream truncated")
        consumed = len(payload) - p - len(d.unused_data)
        p += consumed
        if p + 8 > n:
            raise GzipStructureError("gzip: truncated member trailer")
        crc, isize = struct.unpack("<II", payload[p : p + 8])
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise GzipDataError("gzip: CRC32 mismatch")
        if isize != (len(data) & 0xFFFFFFFF):
            raise GzipDataError("gzip: ISIZE mismatch")
        out.append(data)
        pos = p + 8
    return out


GZIP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_members", IntegerType()),
        StructField("total_usize", LongType()),
        StructField("payload_sum", LongType()),
        StructField("min_byte", IntegerType()),
        StructField("max_byte", IntegerType()),
    ]
)


def decode_gzip_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end gzip decode stats: every member inflated and
    CRC/ISIZE-verified by :func:`parse_gzip`, exact statistics over the
    decoded bytes."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        members = parse_gzip(bytes(p))
        blob = b"".join(members)
        yield (doc_id, len(members), len(blob), *_byte_stats(blob))

    return _map_payloads(df, GZIP_STATS_SCHEMA, rows, id_col, payload_col)


GZIP_QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", BooleanType()),
        StructField("err_class", StringType()),
        StructField("n_members", IntegerType()),
        StructField("payload_sum", LongType()),
    ]
)


def decode_gzip_quarantine_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Quarantine path for gzip ingest: typed classes — ``structure`` for
    framing (:class:`GzipStructureError`), ``data`` for member-integrity
    failures (:class:`GzipDataError`) — never dropping rows (the shared
    corpus-triage contract)."""

    def decode(b: bytes) -> tuple:
        members = parse_gzip(b)
        return (len(members), sum(sum(m) for m in members))

    return _map_quarantined(
        df,
        GZIP_QUARANTINE_SCHEMA,
        decode,
        lambda e: "data" if isinstance(e, GzipDataError) else "structure",
        id_col,
        payload_col,
    )


# ----------------------------------------------------------------- zlib

_ZLIB_MAX_UNCOMPRESSED = 1 << 26  # same bomb posture as PNG/ZIP/gzip


class ZlibStructureError(ValueError):
    """RFC 1950 framing violation (bad CM/CINFO, FCHECK, FDICT,
    truncation, trailing garbage)."""


class ZlibDataError(ValueError):
    """Payload violation inside a well-framed stream (inflate failure,
    over-cap expansion, Adler-32 mismatch)."""


def parse_zlib(
    payload: bytes,
    max_uncompressed: int = _ZLIB_MAX_UNCOMPRESSED,
) -> bytes:
    """Decode one RFC 1950 zlib stream: verify the 2-byte header (CM=8,
    CINFO <= 7, FCHECK — the header halves as a 16-bit big-endian value
    must be divisible by 31; FDICT rejected), inflate the raw-DEFLATE
    body, and VERIFY the big-endian Adler-32 trailer. Returns the decoded
    bytes. Unlike gzip, RFC 1950 defines a SINGLE stream — any byte after
    the trailer is trailing garbage, rejected.

    Reject-don't-misread: :class:`ZlibStructureError` on header/framing
    violations, truncated or oversized trailers; :class:`ZlibDataError`
    on inflate failure, expansion past ``max_uncompressed`` (checked
    DURING inflate — zlib carries NO size field anywhere, so the cap is
    the only bound), or an Adler-32 mismatch."""
    import struct
    import zlib

    n = len(payload)
    if n == 0:
        raise ZlibStructureError("zlib: empty payload")
    if n < 6:
        raise ZlibStructureError("zlib: truncated stream")
    cmf, flg = payload[0], payload[1]
    if cmf & 0x0F != 8:
        raise ZlibStructureError(
            f"zlib: compression method {cmf & 0x0F} unsupported"
        )
    if cmf >> 4 > 7:
        raise ZlibStructureError("zlib: CINFO window size over 32K")
    if (cmf * 256 + flg) % 31 != 0:
        raise ZlibStructureError("zlib: FCHECK header checksum failed")
    if flg & 0x20:
        raise ZlibStructureError("zlib: FDICT preset dictionary unsupported")
    d = zlib.decompressobj(-15)
    try:
        data = d.decompress(payload[2:], max_uncompressed + 1)
    except zlib.error as e:
        raise ZlibDataError(f"zlib: inflate failed: {e}")
    if len(data) > max_uncompressed:
        raise ZlibDataError(
            f"zlib: expands past max_uncompressed={max_uncompressed}"
        )
    if not d.eof:
        raise ZlibDataError("zlib: deflate stream truncated")
    trailer = d.unused_data
    if len(trailer) < 4:
        raise ZlibStructureError("zlib: truncated Adler-32 trailer")
    if len(trailer) > 4:
        raise ZlibStructureError("zlib: trailing bytes after Adler-32")
    (adler,) = struct.unpack(">I", trailer)
    if zlib.adler32(data) & 0xFFFFFFFF != adler:
        raise ZlibDataError("zlib: Adler-32 mismatch")
    return data


ZLIB_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("usize", LongType()),
        StructField("payload_sum", LongType()),
        StructField("min_byte", IntegerType()),
        StructField("max_byte", IntegerType()),
    ]
)


def decode_zlib_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL end-to-end zlib decode stats: the stream inflated and
    Adler-verified by :func:`parse_zlib`, exact statistics over the
    decoded bytes."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        blob = parse_zlib(bytes(p))
        yield (doc_id, len(blob), *_byte_stats(blob))

    return _map_payloads(df, ZLIB_STATS_SCHEMA, rows, id_col, payload_col)


ZLIB_QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ok", BooleanType()),
        StructField("err_class", StringType()),
        StructField("usize", LongType()),
        StructField("payload_sum", LongType()),
    ]
)


def decode_zlib_quarantine_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Quarantine path for zlib ingest: typed classes — ``structure`` for
    framing (:class:`ZlibStructureError`), ``data`` for payload-integrity
    failures (:class:`ZlibDataError`) — never dropping rows (the shared
    corpus-triage contract)."""

    def decode(b: bytes) -> tuple:
        blob = parse_zlib(b)
        return (len(blob), sum(blob))

    return _map_quarantined(
        df,
        ZLIB_QUARANTINE_SCHEMA,
        decode,
        lambda e: "data" if isinstance(e, ZlibDataError) else "structure",
        id_col,
        payload_col,
    )


# ----------------------------------------------------------------- WARC
#
# The Common Crawl record framing (ISO 28500 WARC, the WET/WARC shard
# interior): version line, header block, Content-Length-framed payload,
# double-CRLF terminator. Composed with :func:`parse_gzip` this is the
# full CC ingestion read path — multi-member gzip outside, WARC records
# inside.

_WARC_MAX_RECORDS = 65536
_WARC_MAX_TOTAL_CONTENT = 1 << 26


class WarcError(ValueError):
    """WARC framing violation (version line, headers, length, or record
    terminator)."""


def parse_warc(
    member: bytes,
    max_records: int = _WARC_MAX_RECORDS,
    max_total_content: int = _WARC_MAX_TOTAL_CONTENT,
    with_headers: bool = False,
) -> list[tuple]:
    """Parse one (decompressed) WARC stream into
    ``[(warc_type, content_length, content)]`` in record order — or,
    with ``with_headers=True``, 4-tuples whose last element is the full
    lower-cased header dict (``bytes -> bytes``; the WET ingest uses it
    to recover ``WARC-Record-ID``).

    Reject-don't-misread: raises :class:`WarcError` on a version line
    other than ``WARC/1.0``, a header line without ``": "``, a missing
    ``WARC-Type`` or ``Content-Length``, a non-integer/negative length,
    content running past end-of-stream, a record not terminated by
    CRLFCRLF, record counts past ``max_records``, or total declared
    content past ``max_total_content`` (checked BEFORE each content
    slice — the declared length is never trusted into an allocation
    beyond the cap)."""
    out: list[tuple[str, int, bytes]] = []
    pos, n = 0, len(member)
    total = 0
    if n == 0:
        raise WarcError("warc: empty stream")
    while pos < n:
        if len(out) >= max_records:
            raise WarcError(f"warc: more than max_records={max_records} records")
        eol = member.find(b"\r\n", pos)
        if eol < 0:
            raise WarcError("warc: unterminated version line")
        if member[pos:eol] != b"WARC/1.0":
            raise WarcError("warc: version line must be WARC/1.0")
        pos = eol + 2
        headers: dict[bytes, bytes] = {}
        while True:
            eol = member.find(b"\r\n", pos)
            if eol < 0:
                raise WarcError("warc: unterminated header block")
            line = member[pos:eol]
            pos = eol + 2
            if not line:
                break
            k, sep, v = line.partition(b": ")
            if not sep or not k:
                raise WarcError("warc: malformed header line")
            headers[k.lower()] = v
        if b"warc-type" not in headers:
            raise WarcError("warc: missing WARC-Type")
        if b"content-length" not in headers:
            raise WarcError("warc: missing Content-Length")
        try:
            clen = int(headers[b"content-length"])
        except ValueError:
            raise WarcError("warc: non-integer Content-Length")
        if clen < 0:
            raise WarcError("warc: negative Content-Length")
        total += clen
        if total > max_total_content:
            raise WarcError(
                f"warc: declared content exceeds "
                f"max_total_content={max_total_content}"
            )
        if pos + clen + 4 > n:
            raise WarcError("warc: content runs past end of stream")
        content = member[pos : pos + clen]
        pos += clen
        if member[pos : pos + 4] != b"\r\n\r\n":
            raise WarcError("warc: record not terminated by CRLFCRLF")
        pos += 4
        wtype = headers[b"warc-type"].decode("ascii", "strict")
        if with_headers:
            out.append((wtype, clen, content, headers))
        else:
            out.append((wtype, clen, content))
    return out


TGZ_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_members", IntegerType()),
        StructField("txt_bytes", LongType()),
        StructField("cls_bytes", LongType()),
        StructField("archive_bytes", LongType()),
        StructField("gz_bytes", LongType()),
    ]
)


def index_tgz_members_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """WebDataset ``.tar.gz`` shard indexing: gunzip (:func:`parse_gzip`,
    CRC32 + ISIZE verified) then walk the inner ustar archive
    (:func:`parse_tar`, per-header checksums verified) — the composed
    two-layer read a compressed-shard loader performs. One scan stage,
    zero shuffle of shard bytes."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        raw = bytes(p)
        # A .tar.gz shard is a gzip STREAM: parallel compressors (pigz,
        # bgzip) emit MANY members whose concatenated inflate is the one
        # tar — RFC 1952 §2.2 ("a gzip file is a series of members");
        # joining matches stdlib gzip.decompress, and a one-member unpack
        # would reject pigz-style shards (pinned against foreign
        # /usr/bin/gzip member bytes in test_operators.py).
        archive = b"".join(parse_gzip(raw))
        members = parse_tar(archive)
        sizes = _webdataset_member_sizes(members)
        yield (
            doc_id,
            len(members),
            sizes.get("txt"),
            sizes.get("cls"),
            len(archive),
            len(raw),
        )

    return _map_payloads(df, TGZ_INDEX_SCHEMA, rows, id_col, payload_col)


_BZ2_MAX_TOTAL_UNCOMPRESSED = 1 << 26  # same bomb posture as gzip/PNG/ZIP


class Bz2StructureError(ValueError):
    """Malformed bzip2 framing: bad stream magic/version/level digit,
    truncated stream, or inter-stream bytes that do not start a stream."""


class Bz2DataError(ValueError):
    """bzip2 payload decode failure (corrupt Huffman/BWT data, block CRC
    mismatch — surfaced by the decoder) or the uncompressed bomb cap."""


def parse_bz2(
    payload: bytes,
    max_total_uncompressed: int = _BZ2_MAX_TOTAL_UNCOMPRESSED,
) -> list[bytes]:
    """Decode a bzip2 payload as a SERIES OF STREAMS — the framing
    parallel compressors emit (pbzip2/lbzip2 write one ``BZh`` stream per
    worker chunk) and what ``cat a.bz2 b.bz2`` produces; the reference
    ``bzip2`` binary and stdlib ``bz2.decompress`` both decode the
    concatenation, so shard readers must too. Returns one ``bytes`` per
    stream, in order.

    Each stream's 4-byte head is structure-checked explicitly
    (``BZ`` magic, ``h`` version — the only deployed format; the ancient
    ``0`` RLE-only format is rejected — and a ``1``-``9`` block-size
    digit), then handed to the stdlib decoder, whose per-block and
    stream-combined CRCs make corrupt data a hard error.

    Reject-don't-misread: :class:`Bz2StructureError` on bad framing, a
    truncated stream, or trailing bytes that do not start a new stream;
    :class:`Bz2DataError` on decoder failure or on the total
    uncompressed size exceeding ``max_total_uncompressed`` (enforced
    DURING decode via ``max_length`` — bzip2 carries no size field at
    all, so a bomb is stopped by the cap, never pre-trusted)."""
    import bz2 as _bz2

    if not payload:
        raise Bz2StructureError("bz2: empty payload")
    out: list[bytes] = []
    total = 0
    rest = payload
    while rest:
        if len(rest) < 4 or rest[:2] != b"BZ":
            raise Bz2StructureError(
                "bz2: bad stream magic (expected 'BZ' at stream start)"
            )
        if rest[2:3] != b"h":
            raise Bz2StructureError(
                "bz2: unsupported stream version (only 'h', the Huffman "
                "format bzip2 >= 0.9 writes)"
            )
        if not (0x31 <= rest[3] <= 0x39):
            raise Bz2StructureError(
                "bz2: stream block-size digit must be '1'..'9'"
            )
        dec = _bz2.BZ2Decompressor()
        budget = max_total_uncompressed - total
        try:
            data = dec.decompress(rest, max_length=budget + 1)
        except OSError as e:
            raise Bz2DataError(f"bz2: stream decode failed: {e}") from e
        total += len(data)
        if total > max_total_uncompressed:
            raise Bz2DataError(
                f"bz2: uncompressed size exceeds the "
                f"{max_total_uncompressed} byte cap (decompression bomb "
                "posture: bzip2 has no size field to pre-check)"
            )
        if not dec.eof:
            raise Bz2StructureError("bz2: truncated stream")
        out.append(data)
        rest = dec.unused_data
    return out


_XZ_MAGIC = b"\xfd7zXZ\x00"  # .xz stream header magic (xz spec §2.1.1.1)
_XZ_MAX_TOTAL_UNCOMPRESSED = 1 << 26  # same bomb posture as gzip/bz2/PNG/ZIP


class XzStructureError(ValueError):
    """Malformed .xz framing: bad stream magic, truncated stream, or
    stream padding that is not a multiple of 4 null bytes."""


class XzDataError(ValueError):
    """xz payload decode failure (corrupt LZMA2 data, integrity-check
    mismatch — surfaced by the decoder) or the uncompressed bomb cap."""


def parse_xz(
    payload: bytes,
    max_total_uncompressed: int = _XZ_MAX_TOTAL_UNCOMPRESSED,
) -> list[bytes]:
    """Decode a ``.xz`` payload as a SERIES OF STREAMS with optional
    4-byte-aligned null STREAM PADDING between them (xz file format spec
    §2.2) — the layout ``cat a.xz b.xz`` and parallel compressors (pixz;
    ``xz`` itself pads streams to 4-byte alignment) produce and the
    reference ``xz`` binary decodes. Returns one ``bytes`` per stream,
    in order.

    The walk exists because the OBVIOUS API is a silent-data-loss trap:
    stdlib ``lzma.decompress`` stops at the first stream-padding word
    and returns only the streams before it — measured here: the xz
    binary decodes 2 streams + padding to 1200 bytes, the one-shot
    stdlib call "succeeds" with 600 — so a shard reader built on it
    would silently drop every sample after the first worker chunk.
    Reject-don't-misread, and don't lose members either.

    :class:`XzStructureError` on bad framing, a truncated stream, or
    misaligned padding; :class:`XzDataError` on decoder failure
    (FORMAT_XZ verifies each block's integrity check) or on total
    uncompressed size exceeding ``max_total_uncompressed`` (enforced
    DURING decode via ``max_length`` — the size fields in the xz index
    are attacker-controlled, so they are never pre-trusted)."""
    import lzma as _lzma

    if not payload:
        raise XzStructureError("xz: empty payload")
    out: list[bytes] = []
    total = 0
    rest = payload
    while rest:
        if rest[:1] == b"\x00":
            stripped = rest.lstrip(b"\x00")
            n_pad = len(rest) - len(stripped)
            if n_pad % 4:
                raise XzStructureError(
                    "xz: stream padding must be a multiple of 4 null "
                    f"bytes (got {n_pad})"
                )
            rest = stripped
            continue
        if len(rest) < 6 or rest[:6] != _XZ_MAGIC:
            raise XzStructureError(
                "xz: bad stream magic (expected fd377a585a00 at stream "
                "start)"
            )
        dec = _lzma.LZMADecompressor(_lzma.FORMAT_XZ)
        budget = max_total_uncompressed - total
        try:
            data = dec.decompress(rest, max_length=budget + 1)
        except _lzma.LZMAError as e:
            raise XzDataError(f"xz: stream decode failed: {e}") from e
        total += len(data)
        if total > max_total_uncompressed:
            raise XzDataError(
                f"xz: uncompressed size exceeds the "
                f"{max_total_uncompressed} byte cap (decompression bomb "
                "posture: xz index size fields are never pre-trusted)"
            )
        if not dec.eof:
            raise XzStructureError("xz: truncated stream")
        out.append(data)
        rest = dec.unused_data
    return out


def _webdataset_member_sizes(members: list) -> dict:
    """WebDataset contract: one member PER EXTENSION per sample (".txt",
    ".cls", ...; the extension is the modality key). A duplicate key
    would silently shadow an earlier member's size, so reject the shard
    instead. A name with no dot keys by its full name —
    also unique-checked. Shared by the .tar.gz and .tar.bz2 indexers."""
    sizes: dict[str, int] = {}
    for name, size, _ in members:
        key = name.rsplit(".", 1)[-1]
        if key in sizes:
            raise ValueError(
                f"webdataset shard has {len(members)} members "
                f"with duplicate extension key {key!r} "
                f"(member {name!r}); one member per extension "
                "per sample is the WebDataset contract"
            )
        sizes[key] = size
    return sizes


TBZ2_INDEX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_members", IntegerType()),
        StructField("n_streams", IntegerType()),
        StructField("txt_bytes", LongType()),
        StructField("cls_bytes", LongType()),
        StructField("archive_bytes", LongType()),
    ]
)


TXZ_INDEX_SCHEMA = TBZ2_INDEX_SCHEMA


def _index_multistream_tar_arrow(
    df: DataFrame, parse_fn, id_col: str, payload_col: str
) -> DataFrame:
    """Shared two-layer read for entropy-coded multi-stream tar shards
    (``.tar.bz2`` / ``.tar.xz``): ``parse_fn`` walks the compressor's
    series-of-streams framing, the concatenated decode goes through
    :func:`parse_tar` (per-header checksums verified). Unlike the gzip
    twin there is no compressed-size column in the output: these codecs
    have no stored mode, so compressed size is not closed-form derivable
    — the indexer reports stream count and exact UNCOMPRESSED geometry,
    which is what a shard loader provisions by. One scan stage, zero
    shuffle of shard bytes."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        streams = parse_fn(bytes(p))
        archive = b"".join(streams)
        members = parse_tar(archive)
        sizes = _webdataset_member_sizes(members)
        yield (
            doc_id,
            len(members),
            len(streams),
            sizes.get("txt"),
            sizes.get("cls"),
            len(archive),
        )

    return _map_payloads(df, TBZ2_INDEX_SCHEMA, rows, id_col, payload_col)


def index_tbz2_members_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """``.tar.bz2`` shard indexing: :func:`parse_bz2` multi-stream walk
    (pbzip2/lbzip2 emit one stream per worker chunk) composed with the
    ustar walk — see :func:`_index_multistream_tar_arrow`."""
    return _index_multistream_tar_arrow(df, parse_bz2, id_col, payload_col)


def index_txz_members_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """``.tar.xz`` shard indexing: :func:`parse_xz` multi-stream +
    stream-padding walk (the framing stdlib one-shot decompress silently
    truncates at) composed with the ustar walk — see
    :func:`_index_multistream_tar_arrow`."""
    return _index_multistream_tar_arrow(df, parse_xz, id_col, payload_col)


class HttpResponseError(ValueError):
    """Malformed HTTP/1.x response payload inside a WARC ``response``
    record (bad status line, malformed header, truncated header block)."""


def parse_http_response(content: bytes) -> tuple[int, dict, bytes]:
    """Parse the HTTP/1.x response message a WARC ``response`` record
    carries (Common Crawl's raw-crawl payload layer): returns
    ``(status_code, headers, body)`` with header names lower-cased
    (``bytes -> bytes``; duplicate names keep the LAST value, the
    common-crawler convention).

    Reject-don't-misread: :class:`HttpResponseError` on a status line
    that is not ``HTTP/1.x <3-digit code> [reason]``, a header line
    without ``:``, or a header block not terminated by CRLFCRLF. The
    body is NOT length-validated here — WARC's Content-Length already
    framed the record; transfer/content-encoding of the body is the
    caller's concern (gzip bodies go back through :func:`parse_gzip`)."""
    eol = content.find(b"\r\n")
    if eol < 0:
        raise HttpResponseError("http: unterminated status line")
    parts = content[:eol].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/1."):
        raise HttpResponseError("http: malformed status line")
    if len(parts[1]) != 3 or not parts[1].isdigit():
        raise HttpResponseError("http: status code must be 3 digits")
    status = int(parts[1])
    pos = eol + 2
    headers: dict[bytes, bytes] = {}
    while True:
        eol = content.find(b"\r\n", pos)
        if eol < 0:
            raise HttpResponseError("http: unterminated header block")
        line = content[pos:eol]
        pos = eol + 2
        if not line:
            break
        k, sep, v = line.partition(b":")
        if not sep or not k:
            raise HttpResponseError("http: malformed header line")
        headers[k.lower()] = v.strip()
    return status, headers, content[pos:]


WARC_HTTP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("status", IntegerType()),
        StructField("n_headers", IntegerType()),
        StructField("body_len", LongType()),
        StructField("body_sum", LongType()),
    ]
)


def decode_warc_http_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Raw-crawl read path: gunzip -> WARC split -> HTTP response parse,
    exact stats over the HTTP body bytes. One ``response`` record per
    shard expected (the per-doc generator's contract)."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        recs = parse_warc(b"".join(parse_gzip(bytes(p))))
        responses = [c for t, _, c in recs if t == "response"]
        # Typed, count-bearing rejection instead of a bare tuple-unpack
        # ValueError: the per-doc generator's contract is exactly one
        # response record per shard.
        if len(responses) != 1:
            raise HttpResponseError(
                f"warc/http: expected exactly 1 response record "
                f"per shard, found {len(responses)} among "
                f"{len(recs)} records"
            )
        status, headers, body = parse_http_response(responses[0])
        yield (doc_id, status, len(headers), len(body), sum(body))

    return _map_payloads(
        df, WARC_HTTP_STATS_SCHEMA, rows, id_col, payload_col
    )


WET_RECORDS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("text", StringType()),
    ]
)


def extract_wet_records_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    lang: str = "en",
) -> DataFrame:
    """WET shard -> corpus rows: gunzip each shard, parse its WARC
    records, and emit one (doc_id, lang, text) row per ``conversion``
    record — doc identity recovered from the ``WARC-Record-ID:
    urn:doc:N`` header, exactly the columns the corpus-ingest batch body
    consumes. Records without a well-formed urn are a hard error
    (reject-don't-misread; a WET extractor that silently drops records
    under-counts the corpus). The 1->N row fan-out stays inside the scan
    task."""

    def rows(_shard_id: int, p: bytes) -> Iterator[tuple]:
        for member in parse_gzip(bytes(p)):
            for wtype, _clen, content, headers in parse_warc(
                member, with_headers=True
            ):
                if wtype != "conversion":
                    continue
                rid = headers.get(b"warc-record-id", b"")
                if not rid.startswith(b"urn:doc:"):
                    raise WarcError(
                        "warc: conversion record without a urn:doc record id"
                    )
                yield (int(rid[8:]), lang, content.decode("utf-8", "strict"))

    return _map_payloads(df, WET_RECORDS_SCHEMA, rows, id_col, payload_col)


WARC_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_members", IntegerType()),
        StructField("n_records", IntegerType()),
        StructField("n_conversion", IntegerType()),
        StructField("content_bytes", LongType()),
        StructField("text_sum", LongType()),
    ]
)


def decode_warc_gz_stats_arrow(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """The Common Crawl READ PATH end-to-end: gunzip every member
    (:func:`parse_gzip`), parse the WARC records inside
    (:func:`parse_warc`), and emit exact per-shard statistics —
    member/record/type counts, content volume, and the byte sum of the
    ``conversion`` (WET text) records."""

    def rows(doc_id: int, p: bytes) -> Iterator[tuple]:
        members = parse_gzip(bytes(p))
        recs = [r for m in members for r in parse_warc(m)]
        yield (
            doc_id,
            len(members),
            len(recs),
            sum(1 for t, _, _ in recs if t == "conversion"),
            sum(c for _, c, _ in recs),
            sum(sum(body) for t, _, body in recs if t == "conversion"),
        )

    return _map_payloads(df, WARC_STATS_SCHEMA, rows, id_col, payload_col)
