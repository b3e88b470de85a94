"""Operator unit tests (SURVEY.md §5.2 item 1).

Pin the semantics that are easy to get silently wrong: empty-string->NULL
contract casting, NULL-propagating component sums, count(CASE) vs count(*),
window flattening formats, and the portable hash/round primitives against
their DuckDB twins.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb
from pyspark.sql import Row
from pyspark.sql import functions as F

from stream_processing_pipeline_spark.functions.hashing import h60, h60_sql
from stream_processing_pipeline_spark.functions.money import avg_money, cents
from stream_processing_pipeline_spark.functions.rounding import pround, pround_sql
from stream_processing_pipeline_spark.functions.windows import flatten_window
from stream_processing_pipeline_spark.operators.filters import discrepancy_filter
from stream_processing_pipeline_spark.operators.graph import connected_components
from stream_processing_pipeline_spark.schema import ColumnRule, SchemaContract

TRIP_CONTRACT = SchemaContract(
    rules=[
        ColumnRule("VendorID", "int", name="vendor_id"),
        ColumnRule("tpep_pickup_datetime", "timestamp", name="pickup_datetime"),
        ColumnRule("passenger_count", "int"),
        ColumnRule("fare_amount", "double"),
    ],
    drop=("store_and_fwd_flag",),
)


def test_contract_empty_string_becomes_null(spark):
    """Reference P3 (`spark_streaming.py:92-111`): '' -> NULL before cast."""
    df = spark.createDataFrame(
        [
            ("1", "2024-01-01 10:00:00", "", "12.50"),
            ("", "", "3", ""),
        ],
        ["VendorID", "tpep_pickup_datetime", "passenger_count", "fare_amount"],
    )
    out = TRIP_CONTRACT.apply(df).collect()
    assert out[0].vendor_id == 1
    assert out[0].passenger_count is None
    assert out[0].fare_amount == 12.50
    assert out[0].pickup_datetime == dt.datetime(2024, 1, 1, 10, 0)
    assert out[1].vendor_id is None
    assert out[1].pickup_datetime is None
    assert out[1].passenger_count == 3
    assert out[1].fare_amount is None


def test_contract_json_wire_parse(spark):
    """Kafka-style: binary JSON payload -> wire schema -> typed columns,
    dropped columns excluded (reference `spark_streaming.py:82-111`)."""
    payloads = [
        ('{"VendorID":"2","tpep_pickup_datetime":"2024-01-01 09:30:00",'
         '"passenger_count":"1","fare_amount":"","store_and_fwd_flag":"Y"}',),
    ]
    df = spark.createDataFrame(payloads, ["value"])
    out = TRIP_CONTRACT.parse_json(df).collect()[0]
    assert out.vendor_id == 2
    assert out.fare_amount is None
    assert "store_and_fwd_flag" not in out.asDict()


def test_discrepancy_null_propagation(spark):
    """Reference P8/P9 (`spark_streaming.py:199-207`): a NULL component
    nullifies the sum -> row NOT flagged unless observed total is NULL."""
    rows = [
        Row(total=10.0, a=1.0, b=2.0),     # |10-3|=7 > 1 -> flagged
        Row(total=3.05, a=1.0, b=2.0),     # 0.05 <= 1 -> not flagged
        Row(total=10.0, a=None, b=2.0),    # NULL component -> NOT flagged
        Row(total=None, a=1.0, b=2.0),     # NULL observed -> flagged
    ]
    df = spark.createDataFrame(rows)
    out = discrepancy_filter(df, "total", ["a", "b"], tolerance=1.0).collect()
    flagged = {(r.total, r.a) for r in out}
    assert (10.0, 1.0) in flagged
    assert (None, 1.0) in flagged
    assert len(out) == 2


def test_count_case_vs_count_star(spark):
    """Reference A2: count(CASE WHEN...) counts non-NULLs only."""
    df = spark.createDataFrame(
        [Row(t="a"), Row(t="b"), Row(t="a"), Row(t=None)]
    )
    out = df.agg(
        F.count(F.lit(1)).alias("star"),
        F.count(F.when(F.col("t") == "a", 1)).alias("only_a"),
        F.count("t").alias("non_null"),
    ).collect()[0]
    assert (out.star, out.only_a, out.non_null) == (4, 2, 3)


def test_flatten_window_format(spark):
    """Window struct -> date + HH:mm:ss strings (reference P13 sink shape)."""
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 3, 5, 13, 45), v=1.0)]
    )
    agg = df.groupBy(F.window("ts", "60 minutes").alias("window")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = flatten_window(agg).collect()[0]
    assert out.date == dt.date(2024, 3, 5)
    assert out.start_time == "13:00:00"
    assert out.end_time == "14:00:00"
    assert out.n == 1


def test_h60_matches_python_and_duckdb(spark):
    words = ["", "abc", "hello world", "Ünïcode ✓"]
    df = spark.createDataFrame([(w,) for w in words], ["s"])
    got = {r.s: r.h for r in df.select("s", h60("s").alias("h")).collect()}
    con = duckdb.connect()
    for w in words:
        expected = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        assert got[w] == expected, w
        duck = con.execute(f"SELECT {h60_sql('$w')}", {"w": w}).fetchone()[0]
        assert duck == expected, w


def test_pround_matches_duckdb(spark):
    vals = [0.005, 2.675, 123.4567, -1.005, 0.0, 99.999999]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = {r.x: r.p for r in df.select("x", pround(F.col("x"), 2).alias("p")).collect()}
    con = duckdb.connect()
    for v in vals:
        duck = con.execute(f"SELECT {pround_sql('$v', 2)}", {"v": v}).fetchone()[0]
        assert got[v] == duck, v


def test_cents_exactness(spark):
    # 0.1 + 0.2 style float traps must not leak into money sums.
    vals = [(0.1,), (0.2,), (0.3,), (9.64,), (106.03,)]
    df = spark.createDataFrame(vals, ["v"])
    total = df.agg((F.sum(cents("v")) / 100.0).alias("s")).collect()[0].s
    assert total == 116.27  # exact, despite 0.1+0.2 != 0.3 in binary
    avg = df.agg(avg_money("v").alias("a")).collect()[0].a
    assert avg == 23.25

def test_thumbnail_dims_edges():
    """Integer thumbnail math: pass-through within bounds, aspect preserved,
    never zero on extreme ratios — the arithmetic mm_resize verifies at
    corpus scale, pinned here on the edges the fixture can't hit."""
    from stream_processing_pipeline_spark.operators.multimodal import thumbnail_dims

    assert thumbnail_dims(100, 100) == (100, 100)       # within bounds
    assert thumbnail_dims(128, 128) == (128, 128)       # exactly at bound
    assert thumbnail_dims(256, 128) == (128, 64)        # landscape
    assert thumbnail_dims(128, 256) == (64, 128)        # portrait
    assert thumbnail_dims(10000, 1) == (128, 1)         # floor at 1
    assert thumbnail_dims(1, 10000) == (1, 128)
    assert thumbnail_dims(129, 129) == (128, 128)       # just over bound
    w, h = thumbnail_dims(1920, 1080)
    assert (w, h) == (128, 1080 * 128 // 1920)


def test_contract_malformed_json_resilience(spark):
    """Malformed wire payloads must not kill the stream: from_json yields
    typed NULLs (PERMISSIVE semantics), row count is preserved, and valid
    rows in the same batch parse normally — the poison-pill behavior a
    24/7 ingest pipeline needs (the reference would crash-loop the batch)."""
    payloads = [
        ('{"VendorID":"2","tpep_pickup_datetime":"2024-01-01 09:30:00",'
         '"passenger_count":"1","fare_amount":"12.5"}',),
        ("{not json at all",),
        ("",),
        ('{"VendorID":"7"}',),  # valid but sparse: missing keys -> NULLs
    ]
    df = spark.createDataFrame(payloads, ["value"])
    out = TRIP_CONTRACT.parse_json(df).collect()
    assert len(out) == 4  # nothing dropped, nothing thrown
    assert out[0].vendor_id == 2 and out[0].fare_amount == 12.5
    assert out[1].vendor_id is None  # malformed -> all-NULL row
    assert out[2].vendor_id is None
    assert out[3].vendor_id == 7 and out[3].fare_amount is None


def test_cap_posting_lists_hot_band_truncation_matches_duckdb(spark):
    """Planted hot band (VERDICT r5 #1): 200 identical documents collapse
    into ONE posting list per band; the capped join must emit exactly
    C(cap,2) pairs among the cap id-smallest members — not C(200,2) — and
    the truncation must be engine-identical: DuckDB replaying the same
    QUALIFY row_number() cut over the same banded table yields the same
    pair set. (The driver fixtures never exceed 4 docs/bucket, so this is
    the test that actually exercises the cut.)"""
    from stream_processing_pipeline_spark.operators.dedup import (
        cap_posting_lists,
        lsh_bands,
        lsh_candidate_pairs_capped,
        minhash_table,
    )

    hot = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, hot) for i in range(200)] + [
        (200 + i, f"unique filler document number {i} with words {i * 7}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 8

    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs_capped(docs, cap=cap).collect()
    }
    hot_pairs = {p for p in got if p[0] < 200 and p[1] < 200}
    assert hot_pairs == {
        (i, j) for i in range(cap) for j in range(i + 1, cap)
    }  # exactly C(8,2)=28 pairs, all among the 8 id-smallest members

    # engine parity of the truncation itself: replay the identical cut in
    # DuckDB over the same banded table
    banded = lsh_bands(minhash_table(docs), n_bands=4, rows_per_band=4)
    pdf = banded.toPandas()
    con = duckdb.connect()
    con.register("bands", pdf)
    want = set(
        con.execute(f"""
        WITH capped AS (
          SELECT doc_id, band_idx, band_hash FROM bands
          QUALIFY row_number() OVER (
            PARTITION BY band_idx, band_hash ORDER BY doc_id) <= {cap}
        )
        SELECT DISTINCT a.doc_id, b.doc_id FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        """).fetchall()
    )
    assert got == want

    # sanity: the capped banded table really is truncated
    n_capped = cap_posting_lists(banded, cap=cap).count()
    assert n_capped < banded.count()


def test_parse_pnm_golden_bytes_and_poison_inputs():
    """The dependency-free PNM parser against hand-built payloads: golden
    P6/P5 rasters, comments and multi-digit dimensions in the header, and
    the poison inputs a decode pipeline must REJECT (not mis-read)."""
    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_pnm,
        ppm_decoder,
    )

    # golden 2x2 RGB: header + 12 raster bytes
    p6 = b"P6\n2 2\n255\n" + bytes(range(12))
    assert parse_pnm(p6) == (2, 2, 255, 3, bytes(range(12)))
    assert ppm_decoder(p6) == (2, 2, "ppm")

    # comments anywhere between tokens; multi-digit dims; CRLF whitespace
    p6c = b"P6\r\n# a comment\n12 \t#inline\n3\n# another\n99\n" + bytes(
        range(108)
    )
    assert parse_pnm(p6c) == (12, 3, 99, 3, bytes(range(108)))

    # grayscale P5: one channel
    p5 = b"P5\n3 2\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert parse_pnm(p5) == (3, 2, 255, 1, bytes([10, 20, 30, 40, 50, 60]))
    assert ppm_decoder(p5) == (3, 2, "pgm")

    # raster byte 0x0A (newline) right after the single header whitespace
    # must be DATA, not skipped
    tricky = b"P6\n1 1\n255\n" + bytes([0x0A, 0x0A, 0x0A])
    assert parse_pnm(tricky)[4] == bytes([0x0A, 0x0A, 0x0A])

    for bad in (
        b"",                                  # empty
        b"P3\n1 1\n255\n???",                 # ASCII PPM (unsupported)
        b"JFIF....",                          # wrong magic
        b"P6\n2 2\n255\n" + bytes(11),        # truncated raster
        b"P6\n2 2\n65535\n" + bytes(24),      # 2-byte samples unsupported
        b"P6\n0 2\n255\n",                    # zero dimension
        b"P6\n2 2\n255",                      # header cut before raster
    ):
        with _pytest.raises(ValueError):
            parse_pnm(bad)


def test_ppm_generator_matches_pure_python_writer(spark):
    """The JVM-expression payload generator must emit byte-identical PPMs
    to an independent pure-Python writer — guarding the generator half of
    the end-to-end decode verification."""
    from stream_processing_pipeline_spark.plans.multimodalq import (
        _PPM_A,
        _PPM_B,
        _ppm_payload_col,
    )

    ids = [0, 1, 7, 123]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: bytes(r.payload)
        for r in df.select("doc_id", _ppm_payload_col().alias("payload")).collect()
    }
    for i in ids:
        w, h = 4 + i % 5, 3 + i % 4
        header = f"P6\n# synthetic fixture {i}\n{w} {h}\n255\n".encode()
        raster = bytes((i * _PPM_A + k * _PPM_B) % 256 for k in range(3 * w * h))
        assert got[i] == header + raster, f"doc {i}"


def test_decode_media_batched_builtin_ppm_codec(spark):
    """codec='ppm' resolves to the real parser; unknown codecs still gate."""
    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        decode_media_batched,
    )
    from stream_processing_pipeline_spark.plans.multimodalq import (
        _ppm_payload_col,
    )

    df = spark.createDataFrame([(5,)], "doc_id long").select(
        "doc_id", _ppm_payload_col().alias("payload")
    )
    (row,) = decode_media_batched(df, codec="ppm").collect()
    assert (row.width, row.height, row.format) == (4 + 5 % 5, 3 + 5 % 4, "ppm")
    # jpeg/png are real codecs now; formats with no in-container library
    # still gate
    with _pytest.raises(NotImplementedError):
        decode_media_batched(df, codec="webp")


def test_parse_wav_golden_bytes_and_poison_inputs():
    """The dependency-free RIFF/WAV parser: golden stdlib-written files,
    chunk-walk cases (metadata chunks before data, odd sizes with pad
    bytes), and poison inputs it must REJECT rather than mis-read."""
    import io
    import struct
    import wave

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_wav,
    )

    # golden: stdlib wave writer round-trip (no extra chunks)
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(2)
    w.setsampwidth(2)
    w.setframerate(44100)
    pcm = [0, 1, -1, 32767, -32768, 1234]
    w.writeframes(struct.pack("<6h", *pcm))
    w.close()
    assert parse_wav(buf.getvalue()) == (44100, 2, tuple(pcm))

    def riff(*chunks: bytes) -> bytes:
        body = b"WAVE" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    fmt = chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
    data = chunk(b"data", struct.pack("<3h", 5, -5, 300))

    # odd-sized metadata chunk BEFORE data: pad byte must be skipped
    assert parse_wav(riff(fmt, chunk(b"LIST", b"junk!"), data)) == (
        8000,
        1,
        (5, -5, 300),
    )
    # metadata chunk AFTER data is also legal
    assert parse_wav(riff(fmt, data, chunk(b"cue ", b"x"))) == (
        8000,
        1,
        (5, -5, 300),
    )
    # many real encoders ELIDE the pad byte of a final odd-sized chunk:
    # declared RIFF size covers every byte, walker must accept it
    unpadded_cue = b"cue " + struct.pack("<I", 1) + b"x"
    assert parse_wav(riff(fmt, data, unpadded_cue)) == (
        8000,
        1,
        (5, -5, 300),
    )

    ulaw_fmt = chunk(b"fmt ", struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8))
    for bad in (
        b"",                                    # empty
        b"RIFX" + buf.getvalue()[4:],           # wrong magic
        buf.getvalue()[:-1],                    # truncated (declared size off)
        riff(fmt),                              # no data chunk
        riff(data),                             # no fmt chunk
        riff(ulaw_fmt, data),                   # mu-law (not 16-bit PCM)
        riff(fmt, b"data" + struct.pack("<I", 99)),  # chunk body truncated
        riff(fmt, fmt, data),                   # duplicate fmt chunk
        riff(fmt, data, data),                  # duplicate data chunk
    ):
        with _pytest.raises(ValueError):
            parse_wav(bad)

    # zero-sample data chunk parses (stats layer emits NULL min/max)
    assert parse_wav(riff(fmt, chunk(b"data", b""))) == (8000, 1, ())


def test_wav_generator_matches_pure_python_writer(spark):
    """The JVM-expression WAV payload generator must emit byte-identical
    RIFF files to an independent pure-Python struct writer — guarding the
    generator half of the end-to-end audio decode verification."""
    import struct

    from stream_processing_pipeline_spark.plans.multimodalq import (
        _WAV_A,
        _WAV_B,
        _wav_payload_col,
    )

    ids = [0, 1, 7, 123]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: bytes(r.payload)
        for r in df.select("doc_id", _wav_payload_col().alias("payload")).collect()
    }
    for i in ids:
        n = 32 + i % 64
        rate = 8000 + (i % 4) * 4000
        u = [(i * _WAV_A + k * _WAV_B) % 65536 for k in range(n)]
        expected = (
            b"RIFF"
            + struct.pack("<I", 50 + 2 * n)
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, 2 * rate, 2, 16)
            + b"LIST"
            + struct.pack("<I", 5)
            + b"junk!\x00"
            + b"data"
            + struct.pack("<I", 2 * n)
            + struct.pack(f"<{n}H", *u)
        )
        assert got[i] == expected, f"doc {i}"


def test_parse_tar_golden_and_poison_inputs():
    """The dependency-free ustar walker against stdlib-written archives
    and poison inputs: checksum corruption, bad magic, truncation, and a
    missing end-of-archive marker must all raise, never mis-index."""
    import io
    import tarfile

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_tar,
    )

    buf = io.BytesIO()
    t = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    for name, data in (
        ("7.txt", b"hello world"),
        ("7.cls", b"en"),
        ("big.bin", bytes(range(256)) * 3),  # 768 B -> 2 data blocks
    ):
        info = tarfile.TarInfo(name)
        info.size = len(data)
        t.addfile(info, io.BytesIO(data))
    t.close()
    payload = buf.getvalue()
    members = parse_tar(payload)
    assert [(n, s) for n, s, _ in members] == [
        ("7.txt", 11), ("7.cls", 2), ("big.bin", 768)
    ]
    # offsets are header-block aligned and data round-trips
    for name, size, off in members:
        assert off % 512 == 0
    _, sz, off = members[0]
    assert payload[off : off + sz] == b"hello world"

    corrupt = bytearray(payload)
    corrupt[0] ^= 0xFF  # name byte flips -> checksum mismatch
    with _pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(corrupt))
    nomagic = bytearray(payload)
    nomagic[257] = 0x58
    with _pytest.raises(ValueError, match="magic"):
        parse_tar(bytes(nomagic))
    # stdlib pads archives to 10240-byte records, so strip the WHOLE
    # trailer (end of last member's padded data) — no end marker at all
    _, last_sz, last_off = members[-1]
    end = last_off + ((last_sz + 511) // 512) * 512
    with _pytest.raises(ValueError, match="truncated|end-of-archive"):
        parse_tar(payload[:end])
    with _pytest.raises(ValueError):
        parse_tar(payload[: end + 512])  # half a trailer


def test_tar_generator_matches_stdlib_parser(spark):
    """The JVM-expression ustar generator must produce archives the
    STDLIB tarfile reader accepts with identical member names, sizes and
    contents — generator and walker are independent code paths, and this
    pins the generator against a third-party implementation."""
    import io
    import tarfile

    from stream_processing_pipeline_spark.plans.multimodalq import (
        _tar_payload_col,
    )

    rows = (
        spark.createDataFrame(
            [(3, "some text payload", "en"), (44, "x" * 600, "de")],
            "doc_id long, text string, lang string",
        )
        .select("doc_id", _tar_payload_col().alias("payload"))
        .collect()
    )
    for r in rows:
        t = tarfile.open(fileobj=io.BytesIO(bytes(r.payload)))
        members = t.getmembers()
        assert [m.name for m in members] == [f"{r.doc_id}.txt", f"{r.doc_id}.cls"]
        txt = t.extractfile(members[0]).read().decode()
        cls = t.extractfile(members[1]).read().decode()
        assert (len(txt), cls in ("en", "de")) == (members[0].size, True)


def test_parse_tar_skips_metadata_entries_and_honors_prefix():
    """Real-world shard shapes: a PAX_FORMAT archive's 'x' metadata
    entries must not be indexed as members (only the regular files are),
    and a >100-char path stored via the ustar prefix field must come back
    joined."""
    import io
    import tarfile

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_tar,
    )

    buf = io.BytesIO()
    t = tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT)
    for name, data in (("deep/" * 25 + "p.txt", b"abc"), ("s.cls", b"en")):
        info = tarfile.TarInfo(name)
        info.size = len(data)
        t.addfile(info, io.BytesIO(data))
    t.close()
    members = parse_tar(buf.getvalue())
    assert [s for _, s, _ in members] == [3, 2]  # pax 'x' entries skipped

    buf2 = io.BytesIO()
    t2 = tarfile.open(fileobj=buf2, mode="w", format=tarfile.USTAR_FORMAT)
    long_path = "a/" * 60 + "leaf.txt"  # needs the ustar prefix field
    info = tarfile.TarInfo(long_path)
    info.size = 1
    t2.addfile(info, io.BytesIO(b"z"))
    t2.close()
    ((name, size, _),) = parse_tar(buf2.getvalue())
    assert (name, size) == (long_path, 1)


def test_parse_tar_indexes_contiguous_typeflag_7():
    """POSIX typeflag '7' (contiguous file) is treated as a regular file
    by every mainstream tar reader; the indexer must include it, not walk
    over it silently (ADVICE r6)."""
    import io
    import tarfile

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_tar,
    )

    buf = io.BytesIO()
    t = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    info = tarfile.TarInfo("cont.txt")
    info.size = 4
    info.type = tarfile.CONTTYPE  # b"7"
    t.addfile(info, io.BytesIO(b"abcd"))
    reg = tarfile.TarInfo("reg.cls")
    reg.size = 2
    t.addfile(reg, io.BytesIO(b"en"))
    t.close()
    members = parse_tar(buf.getvalue())
    assert [(n, s) for n, s, _ in members] == [("cont.txt", 4), ("reg.cls", 2)]


def test_wav_stats_empty_data_chunk_yields_null_minmax(spark):
    """A zero-sample data chunk must surface NULL min/max PCM (matching
    SQL list_min/list_max over an empty list), not a fabricated 0
    (ADVICE r6)."""
    import struct

    from stream_processing_pipeline_spark.operators.multimodal import (
        decode_wav_stats_arrow,
    )

    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    empty = b"WAVE" + fmt + b"data" + struct.pack("<I", 0)
    payload = b"RIFF" + struct.pack("<I", len(empty)) + empty
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    (row,) = decode_wav_stats_arrow(df).collect()
    assert row.n_samples == 0
    assert row.min_pcm is None and row.max_pcm is None


def _png_chunk(t: bytes, d: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(d))
        + t
        + d
        + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )


def _png_make(w, h, raw, filters, *, ancillary=False):
    """Independent pure-Python PNG writer (REAL deflate via zlib.compress,
    unlike the engine generator's stored blocks) for decoder tests."""
    import struct
    import zlib

    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    rb = 3 * w
    scan = bytearray()
    for r in range(h):
        f = filters[r]
        scan.append(f)
        for j in range(rb):
            x = raw[r * rb + j]
            a = raw[r * rb + j - 3] if j >= 3 else 0
            b = raw[(r - 1) * rb + j] if r >= 1 else 0
            c = raw[(r - 1) * rb + j - 3] if (r >= 1 and j >= 3) else 0
            if f == 0:
                v = x
            elif f == 1:
                v = (x - a) & 255
            elif f == 2:
                v = (x - b) & 255
            elif f == 3:
                v = (x - (a + b) // 2) & 255
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (x - pred) & 255
            scan.append(v)
    mid = _png_chunk(b"tEXt", b"Comment\x00synthetic") if ancillary else b""
    idat = _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
    return (
        b"\x89PNG\r\n\x1a\n" + ihdr + mid + idat + _png_chunk(b"IEND", b"")
    )


def test_parse_png_golden_and_poison_inputs():
    """All five RFC 2083 filter types must reconstruct the raster exactly
    (against an independent writer using REAL deflate); ancillary chunks
    are CRC-checked and skipped; poison inputs are REJECTED, never
    mis-read."""
    import random
    import struct
    import zlib

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_png,
    )

    rng = random.Random(42)
    w, h = 4, 5
    raw = bytes(rng.randrange(256) for _ in range(3 * w * h))
    for filters in ([0, 1, 2, 3, 4], [4, 3, 2, 1, 0], [2, 2, 2, 2, 2]):
        got = parse_png(_png_make(w, h, raw, filters))
        assert got == (w, h, filters, raw)
    # ancillary chunk between IHDR and IDAT: skipped, CRC still checked
    assert parse_png(_png_make(w, h, raw, [0] * h, ancillary=True))[3] == raw

    good = _png_make(w, h, raw, [0, 1, 2, 3, 4])

    def corrupt(b: bytes, i: int) -> bytes:
        m = bytearray(b)
        m[i] ^= 0x01
        return bytes(m)

    ihdr_16bit = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    ihdr_rgba = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    ihdr_interlaced = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    sig = b"\x89PNG\r\n\x1a\n"
    scan_bad_filter = bytes([5]) + raw[: 3 * w]
    idat_bad = _png_chunk(b"IDAT", zlib.compress(scan_bad_filter * h))
    short_scan = zlib.compress(b"\x00" + raw[: 3 * w])  # one row for h rows
    for bad in (
        b"",
        b"\x89PNX" + good[4:],                       # bad signature
        corrupt(good, 20),                            # IHDR data bit flip -> CRC
        corrupt(good, len(good) - 5),                 # IEND CRC flip
        good[:-12],                                   # missing IEND
        good + b"\x00",                               # trailing garbage
        sig + _png_chunk(b"IHDR", ihdr_16bit) + good[8 + 25:],       # 16-bit
        sig + _png_chunk(b"IHDR", ihdr_rgba) + good[8 + 25:],        # RGBA
        sig + _png_chunk(b"IHDR", ihdr_interlaced) + good[8 + 25:],  # Adam7
        sig + good[8 + 25: 8 + 25] + good[8 + 25:],   # IDAT first (no IHDR)
        sig + good[8:8 + 25] + good[8:8 + 25] + good[8 + 25:],  # dup IHDR
        sig + good[8:8 + 25] + idat_bad + _png_chunk(b"IEND", b""),  # filter 5
        sig + good[8:8 + 25]
        + _png_chunk(b"IDAT", short_scan)
        + _png_chunk(b"IEND", b""),                   # size mismatch
        sig + good[8:8 + 25]
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (h * (1 + 3 * w)))[:8])
        + _png_chunk(b"IEND", b""),                   # truncated deflate
    ):
        with _pytest.raises(ValueError):
            parse_png(bad)

    # non-contiguous IDAT runs must be rejected
    body = zlib.compress(bytes(h * (1 + 3 * w)))
    split = (
        sig
        + good[8:8 + 25]
        + _png_chunk(b"IDAT", body[:4])
        + _png_chunk(b"tEXt", b"k\x00v")
        + _png_chunk(b"IDAT", body[4:])
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        parse_png(split)
    # ... including when the FIRST IDAT run is zero-length (an empty
    # buffer must not defeat the contiguity flag — review finding r7)
    split_empty = (
        sig
        + good[8:8 + 25]
        + _png_chunk(b"IDAT", b"")
        + _png_chunk(b"tEXt", b"k\x00v")
        + _png_chunk(b"IDAT", body)
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        parse_png(split_empty)

    # decompression bomb: a tiny IDAT of deflated zeros whose inflated
    # size vastly exceeds the IHDR raster must be rejected by the BOUNDED
    # inflate, never fully expanded (review finding r7). 64 KB of zeros
    # deflates to ~80 bytes; the raster expects only h*(1+3w) bytes.
    bomb = (
        sig
        + good[8:8 + 25]
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 16)))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        parse_png(bomb)


def test_png_generator_matches_pure_python_writer(spark):
    """The JVM-expression PNG generator must emit byte-identical files to
    an independent pure-Python writer that replicates its layout (stored
    deflate block, filter rotation (doc_id + row) % 5, formula raster) —
    guarding the generator half of the end-to-end decode verification."""
    import struct
    import zlib

    from stream_processing_pipeline_spark.plans.multimodalq import (
        _PNG_A,
        _PNG_B,
        _png_attach_payload,
    )

    def expected(doc_id: int) -> bytes:
        w, h = 2 + doc_id % 5, 3 + doc_id % 4
        rb = 3 * w

        def raw(k):
            return (doc_id * _PNG_A + k * _PNG_B) % 256

        scan = bytearray()
        for r in range(h):
            f = (doc_id + r) % 5
            scan.append(f)
            for j in range(rb):
                k = r * rb + j
                a = raw(k - 3) if j >= 3 else 0
                b = raw(k - rb) if r >= 1 else 0
                c = raw(k - rb - 3) if (r >= 1 and j >= 3) else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                scan.append((raw(k) - pred) & 255)
        n = len(scan)
        zl = (
            b"\x78\x01\x01"
            + struct.pack("<HH", n, 65535 - n)
            + bytes(scan)
            + struct.pack(">I", zlib.adler32(bytes(scan)) & 0xFFFFFFFF)
        )
        ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        return (
            b"\x89PNG\r\n\x1a\n"
            + ihdr
            + _png_chunk(b"IDAT", zl)
            + _png_chunk(b"IEND", b"")
        )

    ids = [0, 1, 2, 3, 4, 7, 19, 123]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: bytes(r.payload) for r in _png_attach_payload(df).collect()
    }
    for i in ids:
        assert got[i] == expected(i), f"doc {i} diverges"
        # and the engine's own parser round-trips the generated file
        from stream_processing_pipeline_spark.operators.multimodal import (
            parse_png,
        )

        w, h, filters, raster = parse_png(got[i])
        assert (w, h) == (2 + i % 5, 3 + i % 4)
        assert filters == [(i + r) % 5 for r in range(h)]
        assert raster == bytes(
            (i * _PNG_A + k * _PNG_B) % 256 for k in range(3 * w * h)
        )


def test_png_quarantine_survives_null_payload(spark):
    """A NULL payload row must be quarantined as malformed, not raise
    TypeError and kill the stage (review finding r7 — the operator's
    whole contract is never failing the job on bad input)."""
    from stream_processing_pipeline_spark.operators.multimodal import (
        decode_png_quarantine_arrow,
    )

    df = spark.createDataFrame(
        [(1, None)], "doc_id long, payload binary"
    )
    (row,) = decode_png_quarantine_arrow(df).collect()
    assert (row.ok, row.err_class, row.n_pixels) == (False, "malformed", None)


def test_quarantine_decoders_classify_null_payload(spark):
    """Every quarantine decoder keeps a NULL payload row and gives it its
    codec's catch-all class: ``malformed`` for GIF (PNG is pinned above),
    ``structure`` for the typed ZIP/gzip/zlib containers. Stats stay NULL."""
    from stream_processing_pipeline_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, None)], "doc_id long, payload binary")
    for decode, err_class in (
        (mm.decode_gif_quarantine_arrow, "malformed"),
        (mm.decode_zip_quarantine_arrow, "structure"),
        (mm.decode_gzip_quarantine_arrow, "structure"),
        (mm.decode_zlib_quarantine_arrow, "structure"),
    ):
        (row,) = decode(df).collect()
        assert tuple(row) == (1, False, err_class, None, None), decode.__name__


def test_payload_decoders_accept_empty_input(spark):
    """Every public ``*_arrow`` payload decoder maps a 0-row
    ``(doc_id, payload)`` frame to 0 rows of exactly its declared schema.
    The table must name each decoder the module exports, so a new one
    cannot skip the check."""
    from stream_processing_pipeline_spark.operators import multimodal as mm

    declared = {
        "decode_media_arrow": mm.DECODE_SCHEMA,
        "decode_ppm_stats_arrow": mm.PPM_STATS_SCHEMA,
        "decode_wav_stats_arrow": mm.WAV_STATS_SCHEMA,
        "index_tar_members_arrow": mm.TAR_INDEX_SCHEMA,
        "decode_png_stats_arrow": mm.PNG_STATS_SCHEMA,
        "decode_png_quarantine_arrow": mm.PNG_QUARANTINE_SCHEMA,
        "decode_jpeg_stats_arrow": mm.JPEG_STATS_SCHEMA,
        "decode_gif_stats_arrow": mm.GIF_STATS_SCHEMA,
        "decode_gif_quarantine_arrow": mm.GIF_QUARANTINE_SCHEMA,
        "decode_zip_stats_arrow": mm.ZIP_STATS_SCHEMA,
        "decode_zip_quarantine_arrow": mm.ZIP_QUARANTINE_SCHEMA,
        "decode_gzip_stats_arrow": mm.GZIP_STATS_SCHEMA,
        "decode_gzip_quarantine_arrow": mm.GZIP_QUARANTINE_SCHEMA,
        "decode_zlib_stats_arrow": mm.ZLIB_STATS_SCHEMA,
        "decode_zlib_quarantine_arrow": mm.ZLIB_QUARANTINE_SCHEMA,
        "index_tgz_members_arrow": mm.TGZ_INDEX_SCHEMA,
        "index_tbz2_members_arrow": mm.TBZ2_INDEX_SCHEMA,
        "index_txz_members_arrow": mm.TXZ_INDEX_SCHEMA,
        "decode_warc_http_stats_arrow": mm.WARC_HTTP_STATS_SCHEMA,
        "extract_wet_records_arrow": mm.WET_RECORDS_SCHEMA,
        "decode_warc_gz_stats_arrow": mm.WARC_STATS_SCHEMA,
    }
    public = {
        n for n in vars(mm) if n.endswith("_arrow") and not n.startswith("_")
    }
    assert public == set(declared)
    empty = spark.createDataFrame([], "doc_id long, payload binary")
    for name, schema in declared.items():
        out = getattr(mm, name)(empty)
        assert out.schema == schema, name
        assert out.collect() == [], name


def test_multimodal_all_lists_every_public_name():
    """``__all__`` names every public decoder, schema, parser and error
    the module defines (``*_arrow``, ``*_SCHEMA`` and ``parse_*`` among
    them), and nothing it does not define."""
    import inspect

    from stream_processing_pipeline_spark.operators import multimodal as mm

    named = {
        n
        for n in vars(mm)
        if not n.startswith("_")
        and (n.endswith(("_arrow", "_SCHEMA")) or n.startswith("parse_"))
    }
    defined = {
        n
        for n, v in vars(mm).items()
        if not n.startswith("_")
        and (inspect.isfunction(v) or inspect.isclass(v))
        and v.__module__ == mm.__name__
    }
    assert sorted(mm.__all__) == sorted(named | defined)


# ---------------------------------------------------------- baseline JPEG

_JPEG_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_STD_DC_VALS = list(range(12))
_JPEG_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_encode(w, h, planes, quant=None):
    """Independent pure-Python BASELINE JPEG encoder (test twin of
    operators.multimodal.parse_jpeg): 4:4:4, standard Annex-K Huffman
    tables for every component, one shared quantization table."""
    import math
    import struct

    # the standard zigzag order, INLINED rather than imported from the
    # decoder under test: a corrupted shared table would otherwise
    # round-trip losslessly (any bijection does) and no test would notice
    zigzag = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]

    quant = quant or [1] * 64
    nc = len(planes)

    def build_codes(bits, vals):
        codes, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                codes[vals[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return codes

    dc_codes = build_codes(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    ac_codes = build_codes(_JPEG_STD_AC_BITS, _JPEG_STD_AC_VALS)

    out = bytearray()
    bitbuf, nbits = 0, 0

    def put(code, length):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << length) | code
        nbits += length
        while nbits >= 8:
            b = (bitbuf >> (nbits - 8)) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
            nbits -= 8
        bitbuf &= (1 << nbits) - 1

    def put_magnitude(v):
        s = abs(v).bit_length()
        if s:
            put(v if v > 0 else v + (1 << s) - 1, s)
        return s

    def fdct(block):
        o = [0.0] * 64
        for u in range(8):
            for v in range(8):
                cu = math.sqrt(0.5) if u == 0 else 1.0
                cv = math.sqrt(0.5) if v == 0 else 1.0
                s = 0.0
                for y in range(8):
                    for x in range(8):
                        s += block[y * 8 + x] * math.cos(
                            (2 * x + 1) * u * math.pi / 16
                        ) * math.cos((2 * y + 1) * v * math.pi / 16)
                o[v * 8 + u] = cu * cv * s / 4
        return o

    bw, bh = (w + 7) // 8, (h + 7) // 8
    pred = [0] * nc
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                plane = planes[ci]
                block = []
                for yy in range(8):
                    for xx in range(8):
                        y = min(by * 8 + yy, h - 1)   # edge replication
                        x = min(bx * 8 + xx, w - 1)
                        block.append(plane[y * w + x] - 128)
                co = fdct(block)
                q = [
                    int(round(co[zigzag[k]] / quant[k]))
                    for k in range(64)
                ]
                diff = q[0] - pred[ci]
                pred[ci] = q[0]
                s = abs(diff).bit_length()
                put(*dc_codes[s])
                put_magnitude(diff)
                run = 0
                last_nz = max((k for k in range(1, 64) if q[k]), default=0)
                for k in range(1, last_nz + 1):
                    if q[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        put(*ac_codes[0xF0])  # ZRL
                        run -= 16
                    s = abs(q[k]).bit_length()
                    put(*ac_codes[(run << 4) | s])
                    put_magnitude(q[k])
                    run = 0
                if last_nz < 63:
                    put(*ac_codes[0x00])  # EOB
    if nbits:
        put((1 << (8 - nbits)) - 1, 8 - nbits)  # pad with 1s

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes(quant))
    comp_hdr = b"".join(
        bytes([cid + 1, 0x11, 0]) for cid in range(nc)
    )
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([nc]) + comp_hdr)
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_STD_AC_BITS) + bytes(_JPEG_STD_AC_VALS),
    )
    sos = seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([cid + 1, 0x00]) for cid in range(nc))
        + bytes([0, 63, 0]),
    )
    return b"\xFF\xD8" + dqt + sof + dht + sos + bytes(out) + b"\xFF\xD9"


def test_parse_jpeg_known_answer_and_roundtrip():
    """Constant blocks decode EXACTLY (DC-only, quant 1); random grayscale
    and 4:4:4 color round-trip through the independent encoder twin within
    DCT/color-conversion tolerance; poison inputs are rejected."""
    import random

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_jpeg,
    )

    # exact: constant 16x8 grayscale (two blocks, DC prediction exercised)
    for val in (128, 170, 3, 255):
        w0, h0, nc, raster = parse_jpeg(
            _jpeg_encode(16, 8, [bytes([val]) * (16 * 8)])
        )
        assert (w0, h0, nc) == (16, 8, 1)
        assert set(raster) == {val}

    rng = random.Random(99)
    # grayscale round-trip, non-multiple-of-8 dims (edge replication)
    w, h = 13, 10
    img = bytes(rng.randrange(256) for _ in range(w * h))
    w0, h0, nc, raster = parse_jpeg(_jpeg_encode(w, h, [img]))
    assert (w0, h0, nc) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(raster, img)) <= 2

    # 4:4:4 color round-trip (encoder feeds YCbCr planes directly; the
    # decoder applies BT.601 -> RGB, so compare against the same math)
    yp = bytes(rng.randrange(256) for _ in range(64))
    cb = bytes(rng.randrange(256) for _ in range(64))
    cr = bytes(rng.randrange(256) for _ in range(64))
    w0, h0, nc, rgb = parse_jpeg(_jpeg_encode(8, 8, [yp, cb, cr]))
    assert (w0, h0, nc) == (8, 8, 3)
    for i in range(64):
        Y, Cb, Cr = yp[i], cb[i] - 128, cr[i] - 128
        exp = (
            Y + 1.402 * Cr,
            Y - 0.344136 * Cb - 0.714136 * Cr,
            Y + 1.772 * Cb,
        )
        for j in range(3):
            e = min(255, max(0, round(exp[j])))
            assert abs(rgb[3 * i + j] - e) <= 4, (i, j)

    good = _jpeg_encode(8, 8, [bytes([100]) * 64])
    sof2 = good.replace(b"\xFF\xC0", b"\xFF\xC2", 1)   # progressive
    subsampled = bytearray(good)
    sof_at = good.index(b"\xFF\xC0")
    subsampled[sof_at + 12] = 0x22                     # 2x2 sampling
    dqt16 = bytearray(good)
    dqt_at = good.index(b"\xFF\xDB")
    dqt16[dqt_at + 4] = 0x10                           # 16-bit quant
    for bad in (
        b"",
        b"\xFF\xD9" + good[2:],                        # missing SOI
        sof2,
        bytes(subsampled),
        bytes(dqt16),
        good[:-8],                                     # truncated entropy
        good + b"\x00",                                # trailing garbage
    ):
        with _pytest.raises(ValueError):
            parse_jpeg(bad)


def test_jpeg_codec_registered_in_decode_pipeline(spark):
    """codec='jpeg' resolves to the real parser inside the Arrow decode
    pipeline (the NotImplementedError gate is closed for jpeg/png)."""
    from stream_processing_pipeline_spark.operators.multimodal import (
        decode_media_batched,
    )

    payload = _jpeg_encode(16, 8, [bytes([50]) * 128])
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    (row,) = decode_media_batched(df, codec="jpeg").collect()
    assert (row.width, row.height, row.format) == (16, 8, "jpeg")


def test_parse_jpeg_structural_poison_inputs():
    """Review-found reject gaps: short DHT/SOF/SOS bodies must raise
    ValueError (not IndexError), duplicate SOF rejects, empty DRI
    rejects, standalone markers before SOS reject, and a ZRL running
    past the block end rejects instead of silently acting as EOB."""
    import struct

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_jpeg,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    good = _jpeg_encode(8, 8, [bytes([100]) * 64])
    sof_at = good.index(b"\xFF\xC0")
    sof_seg = good[sof_at:sof_at + 2 + 11]  # marker + len(2) + 9-byte body
    dup_sof = good[:sof_at] + sof_seg + good[sof_at:]
    for bad in (
        b"\xFF\xD8" + seg(0xC4, bytes(10)) + good[2:],        # short DHT
        b"\xFF\xD8" + seg(0xC0, bytes(2)) + good[2:],         # short SOF
        b"\xFF\xD8" + seg(0xC0, bytes([8, 0, 8, 0, 8, 3])) + good[2:],
        dup_sof,                                              # duplicate SOF
        good[:2] + seg(0xDD, b"") + good[2:],                 # empty DRI
        good[:2] + b"\xFF\xD0" + good[2:],                    # RST0 pre-SOS
        good[:2] + b"\xFF\x01" + good[2:],                    # TEM pre-SOS
    ):
        with _pytest.raises(ValueError):
            parse_jpeg(bad)

    # ZRL past block end: craft entropy data 'DC cat0, ZRL at k=49' so
    # k jumps 49 -> 65 > 63. Standard tables: DC cat0 = '00' (2 bits),
    # AC (15,0) ZRL = '11111111001' (11 bits), AC (0,1) = '00' + 1 mag bit.
    bits = "00"                      # DC diff 0
    bits += ("00" + "1") * 16        # 16x AC(0,1) value +1 -> k reaches 48
    bits += "11111111001"            # ZRL -> k 49+16 = 65: must reject
    bits += "1" * (-len(bits) % 8)
    data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    sos_at = good.index(b"\xFF\xDA")
    zrl_bad = good[:sos_at + 2 + 2 + 6] + data + b"\xFF\xD9"
    with _pytest.raises(ValueError):
        parse_jpeg(zrl_bad)


def test_codec_dimension_bomb_rejects_structurally():
    """ADVICE r7: PNG IHDR / JPEG SOF dimensions are attacker-controlled
    and used to size allocations BEFORE any pixel data is validated. A
    huge-dimension header over a tiny body must raise ValueError fast
    (structural reject) — never inflate toward the declared raster or
    allocate the declared planes."""
    import struct
    import time
    import zlib

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_jpeg,
        parse_png,
    )

    # PNG #1: 2^16 x 2^16 IHDR (4.3 G pixels) behind ~1 KB of deflated
    # zeros — caught by the max_pixels cap before any decompression.
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 2, 0, 0, 0),
        )
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 20)))
        + _png_chunk(b"IEND", b"")
    )
    t0 = time.monotonic()
    with _pytest.raises(ValueError, match="max_pixels"):
        parse_png(bomb)
    assert time.monotonic() - t0 < 2.0, "reject must be pre-inflate"

    # PNG #2: dimensions UNDER the cap (4096x4096 = 16 MP) but the
    # 8-byte empty zlib stream cannot reach the 50 MB raster under
    # deflate's ~1032:1 ceiling — caught by the reachability check.
    lying = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", 4096, 4096, 8, 2, 0, 0, 0)
        )
        + _png_chunk(b"IDAT", zlib.compress(b""))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="impossible"):
        parse_png(lying)

    # JPEG #1: rewrite a valid frame's SOF to 65535x65535 (4.3 G pixels,
    # ~12.8 GB of planes for 3 components) — max_pixels cap.
    good = _jpeg_encode(8, 8, [bytes([100]) * 64])
    sof_at = good.index(b"\xFF\xC0")
    # SOF0 body: marker(2) len(2) precision(1) Y(2) X(2) ...
    huge = (
        good[: sof_at + 5]
        + struct.pack(">HH", 65535, 65535)
        + good[sof_at + 9 :]
    )
    t0 = time.monotonic()
    with _pytest.raises(ValueError, match="max_pixels"):
        parse_jpeg(huge)
    assert time.monotonic() - t0 < 2.0, "reject must be pre-allocation"

    # JPEG #2: dims under the cap (2048x2048) but 64 K blocks need
    # >= 16 KB of entropy data (2-bit/block floor) and only ~tens of
    # bytes are present — entropy-plausibility reject.
    big = (
        good[: sof_at + 5]
        + struct.pack(">HH", 2048, 2048)
        + good[sof_at + 9 :]
    )
    with _pytest.raises(ValueError, match="cannot encode"):
        parse_jpeg(big)


def test_jpeg_overfull_huffman_table_rejects():
    """ADVICE r7: T.81 C.2 requires each code to fit its bit length; an
    overfull BITS vector used to alias (length, code) entries silently,
    misdecoding corrupt tables instead of rejecting them."""
    import struct

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        _jpeg_build_huffman,
        parse_jpeg,
    )

    # three 1-bit codes cannot exist
    with _pytest.raises(ValueError, match="overfull"):
        _jpeg_build_huffman([3] + [0] * 15, bytes(3))
    # overflow at a later length: 1x 1-bit + 3x 2-bit = 5 codes for 4 slots
    with _pytest.raises(ValueError, match="overfull"):
        _jpeg_build_huffman([1, 3] + [0] * 14, bytes(4))
    # exactly-full is legal
    t = _jpeg_build_huffman([2] + [0] * 15, bytes([5, 6]))
    assert t == {(1, 0): 5, (1, 1): 6}

    # end-to-end: DHT segments build eagerly, so an injected overfull
    # table rejects through parse_jpeg before SOS
    good = _jpeg_encode(8, 8, [bytes([100]) * 64])
    body = bytes([0x00]) + bytes([3] + [0] * 15) + bytes(3)
    seg = b"\xFF\xC4" + struct.pack(">H", len(body) + 2) + body
    with _pytest.raises(ValueError, match="overfull"):
        parse_jpeg(good[:2] + seg + good[2:])


def test_jpeg_zrl_completing_block_is_valid():
    """ADVICE r7: a ZRL whose 16 zeros land exactly on the block end
    (k == 64) is legal baseline output (libjpeg emits it); it used to be
    misclassified as 'ZRL past block end'. Hand-build entropy data with
    standard Annex-K tables: DC cat0, 47x AC(0,1)=+1 filling k=1..47,
    then ZRL taking k from 48 to exactly 64."""
    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_jpeg,
    )

    good = _jpeg_encode(8, 8, [bytes([100]) * 64])
    bits = "00"                  # DC: cat 0, diff 0
    bits += ("00" + "1") * 47    # AC(0,1) code '00' + mag bit '1' -> +1
    bits += "11111111001"        # ZRL: k 48 -> 64 == block complete
    bits += "1" * (-len(bits) % 8)
    data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    sos_at = good.index(b"\xFF\xDA")
    stream = good[: sos_at + 2 + 2 + 6] + data + b"\xFF\xD9"
    w, h, nc, raster = parse_jpeg(stream)
    assert (w, h, nc) == (8, 8, 1)
    assert len(raster) == 64


def test_jpeg_ac_fixture_family_decodes_exact_rasters():
    """The AC-path gate family (mm_jpeg_ac_decode_stats) promises every
    one of its 224 streams decodes to EXACT integers in the (4,4)-basis
    quad-checkerboard pattern. The registered query's oracle only pins
    min/max/sum; this test pins the full 128-pixel raster per entry, so
    a sign-pattern or placement bug that happens to preserve the three stats
    cannot hide."""
    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_jpeg,
    )
    from stream_processing_pipeline_spark.plans.multimodalq import (
        _JPEG_AC_LUT,
        _JPEG_HEADER_HEX,
    )

    sgn = [1, -1, -1, 1, 1, -1, -1, 1]
    header = bytes.fromhex(_JPEG_HEADER_HEX)
    assert len(_JPEG_AC_LUT) == 224
    for idx, hexstream in enumerate(_JPEG_AC_LUT):
        v = idx + 16
        amp = (v % 8) + 1
        payload = header + bytes.fromhex(hexstream) + b"\xFF\xD9"
        w, h, nc, raster = parse_jpeg(payload)
        assert (w, h, nc) == (16, 8, 1)
        exp = []
        for y in range(8):
            exp.extend(v + amp * sgn[x] * sgn[y] for x in range(8))
            exp.extend([v] * 8)
        assert list(raster) == exp, (idx, v, amp)


def _gif_lzw_encode_twin(indexes, mcs):
    """Independent REAL LZW compressor (string-table dict, variable-width
    emission) with giflib's width-bump timing: after emitting each code,
    bump when the next free slot no longer fits the current width, THEN
    add the new table entry — the same convention real GIF encoders
    (giflib, Pillow, browsers) use, cross-checked against embedded
    real-encoder streams in test_parse_gif_decodes_real_encoder_streams.
    Shares no code with the decoder under test."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out_bits = []
    width = mcs + 1
    table = {bytes([i]): i for i in range(1 << mcs)}
    next_code = eoi + 1
    out_bits.append((clear, width))
    w = b""
    for k in indexes:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        out_bits.append((table[w], width))
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        w = bytes([k])
    if w:
        out_bits.append((table[w], width))
        if next_code >= (1 << width) and width < 12:
            width += 1
    out_bits.append((eoi, width))
    acc = nbits = 0
    data = bytearray()
    for code, wd in out_bits:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _gif_make(w, h, mcs, indexes, pal=None):
    import struct

    n_colors = 1 << mcs
    f = n_colors.bit_length() - 2
    pal = pal or bytes((3 * i) % 256 for i in range(3 * n_colors))
    hdr = (
        b"GIF87a" + struct.pack("<HH", w, h) + bytes([0x80 | f, 0, 0]) + pal
    )
    img = b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
    data = _gif_lzw_encode_twin(indexes, mcs)
    blocks = b""
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return hdr + img + bytes([mcs]) + blocks + b"\x00" + b"\x3B", pal


def test_parse_gif_roundtrips_against_encoder_twin():
    """REAL LZW coverage: 300 seeded-random images (mcs 2..8, repetition-
    biased pixels so the dictionary genuinely grows), a 200x200 dict-
    stress image (multiple width bumps toward the 4096 cap), and the
    KwKwK corner (code == next free slot) — every raster must come back
    byte-exact through parse_gif."""
    import random

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_gif,
    )

    rng = random.Random(42)
    for trial in range(300):
        w, h = rng.randint(1, 24), rng.randint(1, 24)
        mcs = rng.choice([2, 3, 4, 7, 8])
        n_colors = 1 << mcs
        idx = []
        while len(idx) < w * h:
            if rng.random() < 0.5 and idx:
                j = rng.randint(0, len(idx) - 1)
                idx.extend(idx[j : j + rng.randint(1, 6)])
            else:
                idx.append(rng.randint(0, n_colors - 1))
        idx = idx[: w * h]
        payload, pal = _gif_make(w, h, mcs, idx)
        W, H, NC, resets, raster = parse_gif(payload)
        assert (W, H, NC, resets) == (w, h, n_colors, 1), trial
        assert raster == b"".join(pal[3 * i : 3 * i + 3] for i in idx), trial
    # dictionary stress: forces width 9 -> 12 and the deferred-clear cap
    w, h, mcs = 200, 200, 8
    idx = [((i * i) // 7) % 251 for i in range(w * h)]
    payload, pal = _gif_make(w, h, mcs, idx)
    *_, raster = parse_gif(payload)
    assert raster == b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    # KwKwK: immediate run repetition emits code == next free slot
    idx = [1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2]
    payload, pal = _gif_make(13, 1, 2, idx)
    assert parse_gif(payload)[4] == b"".join(
        pal[3 * i : 3 * i + 3] for i in idx
    )


# Real-encoder GIF streams (CPython 3.13 idlelib/Icons, PSF-licensed),
# embedded byte-exact: minusnode.gif (11x11, mcs=2 — the LZW stream grows
# the dictionary through several width bumps 3->4->5) and idle_16.gif
# (16x16, mcs=7 — the table crosses 256 entries, forcing the 8->9 bump).
# These pin the STANDARD giflib/Pillow width-bump convention (bump when
# the table fills 2**width, post-final-code append included): the
# encoder-twin round-trips alone could not catch a convention drift
# shared by twin and decoder.
_REAL_GIF_MINUSNODE = bytes.fromhex(
    "4749463839610b000b00f10300ffffff7f7f7f000000c0c0c021f90405000003"
    "002c000000000b000b0000021c9c8f16cbac0023084f423a82bd4f783f5516a6"
    "6de416664d93b44301003b"
)
_REAL_GIF_IDLE16 = bytes.fromhex(
    "47494638396110001000f6570045637d47657d45647effc330ffc833ffca35ff"
    "c538ffcb3fffd03dffd13effd442ffd847ffd248ffdd4dffdb53ffe051ffe356"
    "ffe75affe95fffeb60ffed63ffe2763f71993d75a33b7aad3e7eb14367854769"
    "85426989416b8e456f91406e944b789d497ea93d80b64782b24586bb7195b39f"
    "9f9f899caca4a4a4a5a5a5a8a8a8adadadaeaeaeb3b3b3b7b7b7b9b9b9bbbbbb"
    "bdbdbdffe099ffe29bfff49bffeca8fff1aefff2b7a7bacaa4bcd0b0c1d0a1c4"
    "e0c0c0c0c3c3c3c5c5c5c9c9c9cececed0d0d0dcdcdcdfdfdffff4d2d3e0eae1"
    "e1e1e3e3e3e4e4e4e8e8e8ecececeeeeeefffbebeaeff3f0f0f0f2f2f2f3f3f3"
    "f6f6f6f8f8f8fafafafbfbfbfcfcfcfdfdfd0000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000021f90405000057002c00000000100010000007"
    "d7802e30833c3c3d3d3f89578b8b3040485152525453563f53408c5730435153"
    "43484b4655a4554b8c3d414855474b52563b23172038558b3e46535551555655"
    "1945161d1bb6573f41495543bdbe553a1a02a53e9d53513b2218201f1b000155"
    "10353eaaba24d91f1c1a01274c0b0c3c9d51561821254dcd4c150904318f4f56"
    "21169ad0a03001420305050cbc1012c5c9941c1eaa50a010e1208201325c0031"
    "a2c415298a374a916a2104ca112449924978b0804881622b7ab050a1a2059029"
    "361c24383003a6a62b2856ac2205e5a751132852a4d01408003b"
)


def _walk_gif89(p):
    """Minimal GIF89a container walk for the embedded real-encoder
    fixtures: skip extensions, return (iw, ih, mcs, entropy_bytes)."""
    flags = p[10]
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 7))
    while p[pos] == 0x21:
        pos += 2
        while p[pos] != 0:
            pos += 1 + p[pos]
        pos += 1
    assert p[pos] == 0x2C
    iw = p[pos + 5] | p[pos + 6] << 8
    ih = p[pos + 7] | p[pos + 8] << 8
    iflags = p[pos + 9]
    pos += 10
    if iflags & 0x80:
        pos += 3 * (2 << (iflags & 7))
    mcs = p[pos]
    pos += 1
    data = bytearray()
    while p[pos] != 0:
        n = p[pos]
        data += p[pos + 1 : pos + 1 + n]
        pos += 1 + n
    return iw, ih, mcs, bytes(data)


def test_parse_gif_decodes_real_encoder_streams():
    """The LZW machine must decode streams from REAL encoders (not just
    the in-repo twin) byte-exact: pixel count, Clear count, and index
    checksums pinned against the embedded CPython icon GIFs. Also runs
    minusnode through the full parse_gif path via a mechanical
    89a->87a conversion (drop the 8-byte graphic-control extension)."""
    from stream_processing_pipeline_spark.operators.multimodal import (
        _gif_lzw_decode,
        parse_gif,
    )

    iw, ih, mcs, data = _walk_gif89(_REAL_GIF_MINUSNODE)
    assert (iw, ih, mcs) == (11, 11, 2)
    idx, resets = _gif_lzw_decode(data, mcs, iw * ih)
    assert (len(idx), resets) == (121, 1)
    assert (sum(idx), min(idx), max(idx)) == (162, 0, 3)

    iw, ih, mcs, data = _walk_gif89(_REAL_GIF_IDLE16)
    assert (iw, ih, mcs) == (16, 16, 7)
    idx, resets = _gif_lzw_decode(data, mcs, iw * ih)
    assert (len(idx), resets) == (256, 1)
    assert (sum(idx), min(idx), max(idx)) == (15697, 0, 87)

    # full container path on the converted 87a (sig + LSD + 4-entry GCT,
    # extension dropped, image..trailer verbatim)
    conv = (
        b"GIF87a"
        + _REAL_GIF_MINUSNODE[6 : 13 + 12]
        + _REAL_GIF_MINUSNODE[13 + 12 + 8 :]
    )
    w, h, nc, resets, raster = parse_gif(conv)
    assert (w, h, nc, resets) == (11, 11, 4, 1)
    assert (len(raster), sum(raster)) == (363, 68892)


def test_parse_gif_poison_inputs():
    """Reject-don't-misread for the sixth codec: structural lies raise
    ValueError (never a wrong raster, never an unbounded allocation)."""
    import struct
    import time

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_gif,
    )

    good, _ = _gif_make(4, 3, 2, [0, 1, 2, 3] * 3)
    assert parse_gif(good)[0] == 4

    def lsd(w, h, packed):
        return b"GIF87a" + struct.pack("<HH", w, h) + bytes([packed, 0, 0])

    pal4 = bytes(range(12))
    cases = [
        b"GIF89a" + good[6:],                      # 89a (extensions) rejected
        good[:10] + bytes([0x00]) + good[11:],     # GCT flag off
        lsd(4, 3, 0x80) + pal4[:9],                # truncated palette
        good[:-1],                                 # missing trailer
        good + b"x",                               # trailing bytes
        good[:13 + 12] + b"\x21" + good[13 + 12 + 1:],  # extension intro
    ]
    for bad in cases:
        with _pytest.raises(ValueError):
            parse_gif(bad)

    # frame must cover the logical screen
    img_at = good.index(b"\x2C")
    offset = (
        good[:img_at + 1]
        + struct.pack("<HHHH", 1, 0, 4, 3)
        + good[img_at + 9:]
    )
    with _pytest.raises(ValueError, match="full logical screen"):
        parse_gif(offset)

    # wrong pixel count: 4x3 header over a 4x2 stream
    short, _ = _gif_make(4, 2, 2, [0, 1, 2, 3] * 2)
    mixed = good[:img_at] + short[short.index(b"\x2C"):]
    mixed = (
        mixed[:img_at + 1]
        + struct.pack("<HHHH", 0, 0, 4, 3)
        + mixed[img_at + 9:]
    )
    with _pytest.raises(ValueError):
        parse_gif(mixed)

    # color index outside a SMALLER palette: declare a 4-color GCT but
    # encode with mcs=3 so literal 5 escapes the palette
    pay, _ = _gif_make(2, 1, 3, [5, 5])
    small_gct = (
        lsd(2, 1, 0x80 | 0)  # GCT size field 0 -> 2 colors
        + bytes(6)
        + pay[6 + 7 + 3 * 8:]
    )
    with _pytest.raises(ValueError):
        parse_gif(small_gct)

    # dimension bomb: 65535x65535 header over a tiny stream must reject
    # fast, before any allocation
    bomb = lsd(65535, 65535, 0x80) + pal4 + good[good.index(b"\x2C"):]
    t0 = time.monotonic()
    with _pytest.raises(ValueError, match="max_pixels"):
        parse_gif(bomb)
    assert time.monotonic() - t0 < 1.0

    # LZW structural poison: a first-code-after-clear that is not a root
    # (code 7 = beyond eoi for mcs 2, width 3: bits 111)
    hdr = good[: good.index(b"\x2C") + 10] + bytes([2])
    stream = hdr + bytes([2, 0b10111100, 0b000001_01]) + b"\x00\x3B"
    with _pytest.raises(ValueError):
        parse_gif(stream)


def test_gif_generator_matches_pure_python_writer(spark):
    """The JVM-expression GIF generator must emit byte-identical files to
    an independent pure-Python writer replicating its layout (constant
    header, two byte-aligned literal segments split by a Clear) —
    guarding the generator half of the end-to-end decode verification,
    same pattern as the PNG generator pin."""
    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.plans.multimodalq import (
        _GIF_HEADER_HEX,
        _gif_idx_hex,
    )

    hdr = bytes.fromhex(_GIF_HEADER_HEX)
    df = spark.range(0, 40).selectExpr("id AS doc_id").select(
        "doc_id",
        F.expr(
            f"unhex(concat('{_GIF_HEADER_HEX}', "
            f"'8380', {_gif_idx_hex(0, 99)}, "
            f"'80', {_gif_idx_hex(100, 127)}, "
            f"'81', '003b'))"
        ).alias("payload"),
    )
    got = {r.doc_id: bytes(r.payload) for r in df.collect()}
    for d in range(40):
        b, m = d % 64, (d % 7) + 2
        idx = [b + (p % m) for p in range(128)]
        want = (
            hdr
            + bytes([0x83, 0x80])
            + bytes(idx[:100])
            + bytes([0x80])
            + bytes(idx[100:])
            + bytes([0x81, 0x00, 0x3B])
        )
        assert got[d] == want, d


def test_gif_dict_generator_matches_pure_python_writer(spark):
    """The dictionary-path GIF generator (127 byte-aligned literals, then
    a constant 9-bit tail of dictionary codes after the forced width
    bump) must emit byte-identical files to an independent pure-Python
    writer, and parse_gif must decode each through the dictionary path
    to the exact ramp raster."""
    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_gif,
    )
    from stream_processing_pipeline_spark.plans.multimodalq import (
        _GIF_DICT_HEADER_HEX,
        _GIF_DICT_TAIL_HEX,
        _gif_idx_hex,
    )

    # independent tail derivation: 9-bit LSB-first [130, 131, 132, EOI]
    acc = n = 0
    tail = bytearray()
    for c in (130, 131, 132, 129):
        acc |= c << n
        n += 9
        while n >= 8:
            tail.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        tail.append(acc & 0xFF)
    assert tail.hex() == _GIF_DICT_TAIL_HEX

    hdr = bytes.fromhex(_GIF_DICT_HEADER_HEX)
    df = spark.range(0, 40).selectExpr("id AS doc_id").select(
        "doc_id",
        F.expr(
            f"unhex(concat('{_GIF_DICT_HEADER_HEX}', "
            f"'8580', {_gif_idx_hex(0, 126)}, "
            f"'{_GIF_DICT_TAIL_HEX}', '003b'))"
        ).alias("payload"),
    )
    got = {r.doc_id: bytes(r.payload) for r in df.collect()}
    for d in range(40):
        b, m = d % 64, (d % 7) + 2
        idx = [b + (p % m) for p in range(127)]
        want = (
            hdr
            + bytes([0x85, 0x80])
            + bytes(idx)
            + tail
            + bytes([0x00, 0x3B])
        )
        assert got[d] == want, d
        w, h, nc, resets, raster = parse_gif(want)
        assert (w, h, nc, resets) == (19, 7, 128, 1), d
        exp_idx = idx + [idx[0], idx[1], idx[1], idx[2], idx[2], idx[3]]
        assert raster == b"".join(
            bytes([i, i, i]) for i in exp_idx
        ), d


def test_gif_quarantine_classes(spark):
    """The quarantine UDF's coarse classes must be stable: LZW-machine
    rejects map to lzw_error, structural/framing lies to malformed, and
    good rows keep exact stats — on a mixed batch, through the real
    mapInArrow path."""
    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.operators.multimodal import (
        decode_gif_quarantine_arrow,
    )

    good, pal = _gif_make(4, 3, 2, [0, 1, 2, 3] * 3)
    lzw_bad = bytearray(good)
    # first entropy byte: offset = len(header 13 + pal 12 + imgdesc 10
    # + mcs 1 + blocklen 1); poison it to an out-of-range first code
    first_entropy = 13 + 12 + 10 + 1 + 1
    lzw_bad[first_entropy] = 0xFF
    framing_bad = good[:-1]  # missing trailer
    rows = [
        (1, bytes(good)),
        (2, bytes(lzw_bad)),
        (3, bytes(framing_bad)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.doc_id: (r.ok, r.err_class, r.n_px, r.sum_px)
        for r in decode_gif_quarantine_arrow(df).collect()
    }
    exp_sum = sum(
        sum(pal[3 * i : 3 * i + 3]) for i in [0, 1, 2, 3] * 3
    )
    assert got[1] == (True, None, 12, exp_sum)
    assert got[2][0] is False and got[2][1] == "lzw_error"
    assert got[3][0] is False and got[3][1] == "malformed"


# ------------------------------------------------------------------- ZIP


def _zip_bytes(entries, method=None):
    """Small deterministic archive via the AUTHORITATIVE stdlib writer."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in entries:
            zi = zipfile.ZipInfo(name, date_time=(1999, 1, 1, 0, 0, 0))
            zi.compress_type = (
                method if method is not None else zipfile.ZIP_DEFLATED
            )
            z.writestr(zi, data)
    return buf.getvalue()


def test_zip_parses_real_wheels_byte_identical_to_zipfile():
    """The authoritative-reference pin (the GIF width-bump lesson): every
    entry of the two REAL wheels in the container must come back with the
    same name, method, size, and decoded BYTES as stdlib zipfile — 750
    entries, both methods, real-world writer conventions."""
    import glob
    import zipfile

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_zip,
    )

    wheels = sorted(glob.glob("/usr/share/python-wheels/*.whl"))
    if not wheels:  # environment-bound fixture, not an engine property
        import pytest

        pytest.skip("no real wheel fixtures in this container")
    total = 0
    for p in wheels:
        data = open(p, "rb").read()
        mine = parse_zip(data, max_total_uncompressed=1 << 27)
        ref = zipfile.ZipFile(p)
        infos = ref.infolist()
        assert [(n, m, u) for n, m, u, _ in mine] == [
            (i.filename, i.compress_type, i.file_size) for i in infos
        ]
        for name, _m, _u, raw in mine:
            assert raw == ref.read(name)
        total += len(mine)
    assert total >= 500


def test_zip_poison_suite():
    """Reject-don't-misread, with TYPED errors: container framing ->
    ZipStructureError, payload integrity -> ZipDataError."""
    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        ZipDataError,
        ZipStructureError,
        parse_zip,
    )

    good = _zip_bytes([("a.bin", b"x" * 64), ("b.txt", b"hello zip " * 9)])
    assert [n for n, _, _, _ in parse_zip(good)] == ["a.bin", "b.txt"]

    def mutate(b, pos, new):
        m = bytearray(b)
        m[pos : pos + len(new)] = new
        return bytes(m)

    with pytest.raises(ZipStructureError, match="end-of-central"):
        parse_zip(good[: good.rindex(b"PK\x05\x06")])
    with pytest.raises(ZipStructureError, match="end-of-central"):
        parse_zip(good + b"junk")  # comment length no longer lands on EOF
    eocd = good.rindex(b"PK\x05\x06")
    with pytest.raises(ZipStructureError, match="multi-disk"):
        parse_zip(mutate(good, eocd + 4, b"\x01\x00"))
    with pytest.raises(ZipStructureError, match="max_entries"):
        parse_zip(good, max_entries=1)
    with pytest.raises(ZipStructureError, match="exceeds max_total"):
        parse_zip(good, max_total_uncompressed=16)
    with pytest.raises(ZipStructureError, match="abut"):
        parse_zip(mutate(good, eocd + 16, (9999).to_bytes(4, "little")))
    cd = good.rindex(b"PK\x01\x02")
    with pytest.raises(ZipStructureError, match="signature"):
        parse_zip(mutate(good, cd, b"PK\x01\x03"))
    # flags: encryption bit / data-descriptor bit on the first CD entry
    cd0 = good.index(b"PK\x01\x02")
    with pytest.raises(ZipStructureError, match="encrypted"):
        parse_zip(mutate(good, cd0 + 8, b"\x01\x00"))
    with pytest.raises(ZipStructureError, match="data-descriptor"):
        parse_zip(mutate(good, cd0 + 8, b"\x08\x00"))
    with pytest.raises(ZipStructureError, match="method 12"):
        parse_zip(mutate(good, cd0 + 10, b"\x0c\x00"))
    # local/central name divergence
    lh0 = good.index(b"PK\x03\x04")
    name_off = good.index(b"a.bin", lh0)
    with pytest.raises(ZipStructureError, match="name mismatch"):
        parse_zip(mutate(good, name_off, b"z.bin"))
    # payload integrity: flip one byte inside the first entry's deflate
    # stream -> inflate/CRC failure, the DATA error class
    data_off = name_off + 5
    with pytest.raises(ZipDataError):
        parse_zip(
            mutate(good, data_off + 3, bytes([good[data_off + 3] ^ 0xFF]))
        )
    # stored entry CRC mismatch is also a DATA error
    stored = _zip_bytes([("s.bin", b"q" * 32)], method=0)
    s_off = stored.index(b"s.bin", stored.index(b"PK\x03\x04")) + 5
    with pytest.raises(ZipDataError, match="CRC32"):
        parse_zip(mutate(stored, s_off, b"Q"))
    # declared-zero-size deflate bomb: zlib treats max_length=0 as
    # UNLIMITED, so a usize=0 entry over a real bomb payload must hit the
    # OVERRUN guard (output bounded at 1 byte), never the after-the-fact
    # length check (which would only fire after the full ~1032x inflate)
    bomb = _zip_bytes([("bomb.bin", b"\x00" * (4 << 20))])
    b_cd = bomb.rindex(b"PK\x01\x02")
    assert bomb[b_cd + 10 : b_cd + 12] == b"\x08\x00"  # method 8 as built
    with pytest.raises(ZipDataError, match="inflates past declared size"):
        parse_zip(mutate(bomb, b_cd + 24, (0).to_bytes(4, "little")))


def test_zip_overlapping_entries_rejected():
    """Two central entries pointing at the SAME local region (the
    classic zip-confusion trick) must be rejected structurally."""
    import struct

    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        ZipStructureError,
        parse_zip,
    )

    good = _zip_bytes([("a.bin", b"x" * 64), ("b.txt", b"y" * 64)], method=0)
    # point entry b's local-header offset at entry a's
    cd0 = good.index(b"PK\x01\x02")
    cd1 = good.index(b"PK\x01\x02", cd0 + 4)
    lho_a = struct.unpack("<I", good[cd0 + 42 : cd0 + 46])[0]
    m = bytearray(good)
    m[cd1 + 42 : cd1 + 46] = struct.pack("<I", lho_a)
    with pytest.raises(ZipStructureError, match="mismatch|overlap"):
        parse_zip(bytes(m))


def test_zip_plan_generator_is_a_real_archive(spark):
    """The in-plan generator's bytes must be a REAL archive by the
    authoritative reader's standards: stdlib zipfile opens the payload
    Spark assembled (JVM crc32 handshake included) and returns exactly
    the per-doc ramp and the constant deflated text."""
    import io
    import zipfile

    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.plans.multimodalq import (
        _ZIP_A_LEN,
        _ZIP_B_RAW,
    )

    # rebuild the generator's frame (same expressions the query uses),
    # but keep the payload column instead of decoding it
    from stream_processing_pipeline_spark.plans import multimodalq as MQ

    p = MQ._ZIP_PARTS
    stored_hex = (
        f"array_join(transform(sequence(0, {_ZIP_A_LEN - 1}), "
        f"p -> lpad(hex((doc_id % 64) + (p % ((doc_id % 7) + 2))), 2, '0')), '')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    rows = (
        spark.range(0, 40).select(F.col("id").alias("doc_id"))
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
        .collect()
    )
    assert len(rows) == 40
    for r in rows:
        d = int(r.doc_id)
        b, m = d % 64, (d % 7) + 2
        z = zipfile.ZipFile(io.BytesIO(bytes(r.payload)))
        assert z.namelist() == ["a.bin", "b.txt"]
        assert z.read("a.bin") == bytes(
            b + (i % m) for i in range(_ZIP_A_LEN)
        )
        assert z.read("b.txt") == _ZIP_B_RAW
        assert z.testzip() is None


def test_zip_quarantine_classes(spark):
    """The quarantine decoder's classes are TYPED: a CRC-broken entry in
    an intact container -> 'data'; a broken EOCD -> 'structure'; intact
    archives decode with full stats. Driven through the registered
    query's exact corruption plan on a mixed batch."""
    from stream_processing_pipeline_spark.plans.multimodalq import (
        mm_zip_corrupt_quarantine,
    )

    out = {
        r.doc_id: r
        for r in mm_zip_corrupt_quarantine(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(out) == 500
    for d, r in out.items():
        if d % 3 == 0:
            assert r.ok and r.err_class is None and r.n_entries == 2
        elif d % 3 == 1:
            assert (not r.ok) and r.err_class == "data"
        else:
            assert (not r.ok) and r.err_class == "structure"


# ------------------------------------------------------------------ gzip


def test_gzip_parses_real_man_pages_byte_identical_to_stdlib():
    """Authoritative-reference pin: hundreds of REAL gzip files in the
    container (man pages) must decode byte-identical to stdlib gzip."""
    import glob
    import gzip

    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_gzip,
    )

    files = sorted(glob.glob("/usr/share/man/man*/*.gz"))[:300]
    if not files:
        pytest.skip("no real gzip fixtures in this container")
    for f in files:
        data = open(f, "rb").read()
        assert b"".join(parse_gzip(data)) == gzip.decompress(data), f
    assert len(files) >= 100


def test_zlib_parses_real_payloads_byte_identical_to_stdlib():
    """Authoritative-reference pin for RFC 1950: streams written by the C
    zlib library itself (stdlib zlib.compress over hundreds of REAL files
    at four compression levels, exercising stored, fixed- and
    dynamic-Huffman deflate) must decode byte-identical."""
    import glob
    import gzip
    import zlib

    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_zlib,
    )

    files = sorted(glob.glob("/usr/share/man/man*/*.gz"))[:150]
    if not files:
        pytest.skip("no real payload fixtures in this container")
    n = 0
    for f in files:
        raw = gzip.decompress(open(f, "rb").read())
        for level in (0, 1, 6, 9):
            stream = zlib.compress(raw, level)
            assert parse_zlib(stream) == raw, (f, level)
            n += 1
    assert n >= 400


def test_zlib_poison_suite():
    """Reject-don't-misread with TYPED errors: framing ->
    ZlibStructureError, payload integrity -> ZlibDataError."""
    import zlib

    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        ZlibDataError,
        ZlibStructureError,
        parse_zlib,
    )

    raw = b"zlib poison fixture payload " * 8
    good = zlib.compress(raw, 6)
    assert parse_zlib(good) == raw

    def mutate(b, pos, new):
        m = bytearray(b)
        m[pos : pos + len(new)] = new
        return bytes(m)

    with pytest.raises(ZlibStructureError, match="empty"):
        parse_zlib(b"")
    with pytest.raises(ZlibStructureError, match="truncated stream"):
        parse_zlib(good[:5])
    with pytest.raises(ZlibStructureError, match="method"):
        parse_zlib(mutate(good, 0, bytes([(good[0] & 0xF0) | 7])))
    with pytest.raises(ZlibStructureError, match="CINFO"):
        parse_zlib(mutate(good, 0, bytes([0x88 | (good[0] & 0x0F)])))
    with pytest.raises(ZlibStructureError, match="FCHECK"):
        parse_zlib(mutate(good, 1, bytes([good[1] ^ 0x01])))
    # FDICT set WITH a re-valid FCHECK so the dict rejection itself fires
    flg = good[1] | 0x20
    flg = (flg & 0xE0) | ((31 - (good[0] * 256 + (flg & 0xE0)) % 31) % 31)
    assert (good[0] * 256 + flg) % 31 == 0 and flg & 0x20
    with pytest.raises(ZlibStructureError, match="FDICT"):
        parse_zlib(mutate(good, 1, bytes([flg])))
    with pytest.raises(ZlibStructureError, match="truncated Adler"):
        parse_zlib(good[:-1])
    with pytest.raises(ZlibStructureError, match="trailing bytes"):
        parse_zlib(good + b"x")
    with pytest.raises(ZlibDataError, match="Adler-32"):
        parse_zlib(mutate(good, len(good) - 2, b"\xff"))
    with pytest.raises(ZlibDataError, match="inflate|truncated"):
        parse_zlib(mutate(good, 4, b"\xff\xff\xff\xff"))
    # bomb cap enforced DURING inflate (no size field exists to pre-trust)
    with pytest.raises(ZlibDataError, match="max_uncompressed"):
        parse_zlib(zlib.compress(b"\x00" * 100_000, 9), max_uncompressed=1024)


def test_gzip_multi_member_and_header_flags():
    """Multi-member concatenation (the Common Crawl shard layout) splits
    into per-member payloads; FNAME/FCOMMENT/FEXTRA/FHCRC headers walk
    correctly."""
    import gzip
    import io
    import struct
    import zlib

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_gzip,
    )

    a, b = b"hello " * 10, b"world " * 7
    assert parse_gzip(gzip.compress(a, mtime=0) + gzip.compress(b, mtime=0)) == [a, b]
    buf = io.BytesIO()
    g = gzip.GzipFile(filename="x.txt", mode="wb", fileobj=buf, mtime=0)
    g.write(b"named")
    g.close()
    assert parse_gzip(buf.getvalue()) == [b"named"]
    # hand-built member with FEXTRA + FHCRC
    raw = b"extra header member"
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    body = c.compress(raw) + c.flush()
    hdr = b"\x1f\x8b\x08" + bytes([0x04 | 0x02]) + b"\x00" * 4 + b"\x00\xff"
    hdr += struct.pack("<H", 4) + b"ab\x01\x02"  # FEXTRA
    hcrc = struct.pack("<H", zlib.crc32(hdr) & 0xFFFF)  # FHCRC, verified
    trailer = struct.pack("<II", zlib.crc32(raw) & 0xFFFFFFFF, len(raw))
    assert parse_gzip(hdr + hcrc + body + trailer) == [raw]
    # a corrupted header CRC16 must be rejected, not silently walked
    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        GzipDataError,
    )

    bad = bytes(x ^ 0xFF for x in hcrc)
    with pytest.raises(GzipDataError, match="FHCRC"):
        parse_gzip(hdr + bad + body + trailer)


def test_gzip_poison_suite():
    import gzip
    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        GzipDataError,
        GzipStructureError,
        parse_gzip,
    )

    good = gzip.compress(b"payload bytes " * 8, mtime=0)

    def mutate(b, pos, new):
        m = bytearray(b)
        m[pos : pos + len(new)] = new
        return bytes(m)

    with pytest.raises(GzipStructureError, match="magic"):
        parse_gzip(b"\x1f\x8c" + good[2:])
    with pytest.raises(GzipStructureError, match="method"):
        parse_gzip(mutate(good, 2, b"\x07"))
    with pytest.raises(GzipStructureError, match="reserved"):
        parse_gzip(mutate(good, 3, b"\x20"))
    with pytest.raises(GzipStructureError, match="trailer|truncated"):
        parse_gzip(good[:-4])
    with pytest.raises(GzipStructureError, match="magic|truncated"):
        parse_gzip(good + b"garbage after member")
    with pytest.raises(GzipDataError, match="CRC32"):
        parse_gzip(mutate(good, len(good) - 8, b"\xde\xad\xbe\xef"))
    with pytest.raises(GzipDataError, match="ISIZE"):
        parse_gzip(mutate(good, len(good) - 4, b"\xff\x00\x00\x00"))
    with pytest.raises(GzipDataError, match="inflate|truncated"):
        parse_gzip(mutate(good, 12, b"\xff\xff\xff"))
    with pytest.raises(GzipDataError, match="max_total_uncompressed"):
        parse_gzip(gzip.compress(b"\x00" * 100_000, mtime=0),
                   max_total_uncompressed=1024)
    with pytest.raises(GzipStructureError, match="empty"):
        parse_gzip(b"")


def test_gzip_plan_generator_is_a_real_stream(spark):
    """The in-plan generator's bytes must be a REAL multi-member gzip by
    the authoritative reader's standards: stdlib gzip decompresses the
    payload Spark assembled (JVM crc32 handshake included) to exactly
    the per-doc ramp followed by the constant member."""
    import gzip

    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.plans import multimodalq as MQ

    p = MQ._GZ_PARTS
    stored_hex = (
        f"array_join(transform(sequence(0, {MQ._GZ_A_LEN - 1}), "
        f"p -> lpad(hex((doc_id % 64) + (p % ((doc_id % 7) + 2))), 2, '0')), '')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    rows = (
        spark.range(0, 40).select(F.col("id").alias("doc_id"))
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
        .collect()
    )
    for r in rows:
        d = int(r.doc_id)
        b, m = d % 64, (d % 7) + 2
        ramp = bytes(b + (i % m) for i in range(MQ._GZ_A_LEN))
        assert gzip.decompress(bytes(r.payload)) == ramp + MQ._GZ_B_RAW


def test_zlib_plan_generator_is_a_real_stream(spark):
    """The in-plan zlib generator's bytes must be REAL RFC 1950 streams
    by the authoritative reader's standards: stdlib zlib decompresses
    both halves — the stored-block payload whose Adler-32 the PLAN
    computed as an integer fold, and the constant level-9 member — to
    exactly the expected bytes (a wrong in-plan Adler would make stdlib
    raise, pinning the fold's correctness against the C implementation)."""
    import zlib

    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.plans import multimodalq as MQ

    rows = (
        spark.range(0, 40).select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 2 == 0, MQ._zlib_stored_payload())
            .otherwise(F.expr(f"unhex('{MQ._ZL_PARTS['b_full']}')"))
            .alias("payload"),
        )
        .collect()
    )
    for r in rows:
        d = int(r.doc_id)
        if d % 2 == 0:
            b, m = d % 64, (d % 7) + 2
            want = bytes(b + (i % m) for i in range(MQ._ZL_A_LEN))
        else:
            want = MQ._ZL_B_RAW
        assert zlib.decompress(bytes(r.payload)) == want


def test_zlib_quarantine_classes(spark):
    """The registered corruption overlays map to exactly the declared
    typed classes on every row (never message matching, never drops)."""
    from stream_processing_pipeline_spark.plans import REGISTRY

    out = REGISTRY["mm_zlib_corrupt_quarantine"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) > 0
    for r in out:
        d = int(r.doc_id) % 3
        if d == 0:
            assert r.ok and r.err_class is None and r.usize == 96
        elif d == 1:
            assert (not r.ok) and r.err_class == "data" and r.usize is None
        else:
            assert (not r.ok) and r.err_class == "structure"


def test_gzip_quarantine_classes(spark):
    """Typed gzip quarantine classes on a mixed batch, driven through
    the registered corruption plan."""
    from stream_processing_pipeline_spark.plans.multimodalq import (
        mm_gzip_corrupt_quarantine,
    )

    out = {
        r.doc_id: r
        for r in mm_gzip_corrupt_quarantine(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(out) == 500
    for d, r in out.items():
        if d % 3 == 0:
            assert r.ok and r.err_class is None and r.n_members == 2
        elif d % 3 == 1:
            assert (not r.ok) and r.err_class == "data"
        else:
            assert (not r.ok) and r.err_class == "structure"


# ------------------------------------------------------------------- WARC


def _warc_record(wtype: bytes, content: bytes) -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: " + wtype + b"\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(content)
        + content + b"\r\n\r\n"
    )


def test_warc_parses_records_and_content_length_framing():
    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_warc,
    )

    # content containing CRLFCRLF must NOT split the record — framing is
    # by Content-Length, never by delimiter scanning
    tricky = b"line1\r\n\r\nWARC/1.0\r\nlooks like a record but is content"
    stream = (
        _warc_record(b"warcinfo", b"software: x\r\n")
        + _warc_record(b"conversion", tricky)
        + _warc_record(b"conversion", b"")
    )
    recs = parse_warc(stream)
    assert [(t, c) for t, c, _ in recs] == [
        ("warcinfo", 13), ("conversion", len(tricky)), ("conversion", 0),
    ]
    assert recs[1][2] == tricky


# Real-WARC fixture written by GNU Wget 1.21.3 (--warc-file against a
# local HTTP server; wget is one of the canonical WARC producers, fully
# independent of this repo's reader AND of its test generators — the
# authoritative-reference lesson from the r8 GIF review, applied to WARC
# per VERDICT r9 #5). Seven per-record gzip members (the Common Crawl
# shard layout): warcinfo, request/response x2, metadata, resource. The
# second fetched page deliberately CONTAINS delimiter-lookalike bytes
# ("WARC/1.0 ...\r\nContent-Length: 99\r\n\r\n") inside its body.
_REAL_WARC_WGET = bytes.fromhex(
    "1f8b08040000000002030c00736c0800c4010000610200007551cb6edb3010bc"
    "0bd03f1039b507ea65599688b6401cdb81db384963372e723128692513a14895"
    "a49ab45f1f5211d053416041ccecee0c87c7cb87ab300e22df3bda1b3efce981"
    "a017aa2a261ae97b5752181066c269df735651c3a4085d0f6e18f05a4fb32b6a"
    "6c4f1225198e721c67876841e61949f3a7a9e1012aa96abc5d11f46950820c03"
    "ab495a146959e514475992e3b4a025a6c53cc54505795ac690414cbf4c0b368c"
    "83a09d55514079e02c04eddf895c72593de3156b411b82f499c664fbf5f6f6fb"
    "e3f22e7b5a2caf7f3c7ebbd92dd7d7bb9f97fbcd7ab65aef77ffde7703a23567"
    "8266c9c2f77c4fcbc6d8ed56e8d882b1f9247130431f3813c32b6ec5f0d1f71a"
    "a93a6a859c3672c6d06644d0186625856bd00749d0d9989e8461c94a31744129"
    "9aa051a11b1bcb69bbbf3b25f93c8a4ebf41691b6d7ce236496d6a451b13f475"
    "e37b4a96d268822a4eb56695efbd585b98aa76e8ac7b4b5ce05f17b6e0e95738"
    "7c0e4dd7872ea61117f29d7a06e83197ed08d6c0c100b62aa01c706fcb38e6b6"
    "d76e70b21e278b20b22726799ccc421a9857f35fb67c675d8ceebc012a2b4df6"
    "610200001f8b08040000000002030c00736c0800920100001a0200005d914d8f"
    "d3301086ef91f21f7c5e699ad875dcc4c04ad976b7ad52a02a2941dc5c7b368d"
    "284e367111fdf738d08216cdc59e8f67de99a9f2dd3ca293380c2aff82f2d2a1"
    "243dbe9c7170379fea6b74b0dfad25797b74ae935144d96c127ba332a56c1aa9"
    "89fbe9eec360de5a87d65d31aaeb4e8d56ae696d34d6bdf93ed4ce47debde62f"
    "94f3c92c6602e214a828e3994c84e4e9d76bc20e75db1b582f7cff736fe5f9dc"
    "1829a8c124631450a002cee3185266042433911923d2037fe6f757c07a0bb931"
    "3d0e83247f955f6395ea75639fdbfff03ccbf841a70a62c152e0993a80ca120e"
    "99c6941fa86f4ad50dff706af5375834b59f4992e1a8a87ca8aa4d513cad3ecc"
    "8bf2f3f2e397e574bbd9ccd6ac7cbf4a969f8afdbf556dd0d6eee8754d791884"
    "c1f2b1247fd6495665b9f5a7f14257ed087ebdf330d80fd8435e7b882495bf90"
    "cf6574e203b9d6d879e75d7477fbc0a3d5ad696c2d49637c45e32ebf2558d4e3"
    "792429103bc84fcd0f1c558cf60ba66274841a0200001f8b0804000000000203"
    "0c00736c0800240200001d0300007592ed6e9b301885ff23710fbe80193031e6"
    "631f1249da340bed48024b977f061bc24a3005b325bbfa3969b2ee439325cbe2"
    "bcefc37b8ebd095713131996ae6dd40926c79607a0e37d2b9a9e5f3eae782e3a"
    "06e7d300bc1bba2618868a05087384b15f40c76505c49c3ad0b3d4e690d1a8f0"
    "1dc7a74ef6e102d8d02eaf9a42fc85c0be8fb3dca3d022b607b14f33487d0743"
    "3fe71ece10271cd12b62229a7ce83ade489888df210431eef83682aa9c428c2d"
    "0b7a36236a2ce23346bc0c17f80a4968577209d3d55c117652b6816922db352c"
    "b550e0217b6452431ee4b57e4aa54ac3b66c022d0f2292586ee090007bdb4bc1"
    "3c8621632aae3e00bf40176d5c8bfc094eab92f73200fd8ea260bc9c2ced65fc"
    "713a8eb693e866132e6fb70f531ce3c52c9a8d1ec34b674c8fb5a0eccf5e379d"
    "a7917bbb4aed14cfb6e47191de7df9bc5dce26f307db0e6f54af8a489ef339df"
    "216ddbbacaa9ac44639eacbeddf7a554cafbd7cbbd3644bc29e54e1925b6aee9"
    "da5d92c4a727a18c5be0d342d7d6bcfbc6bb00acab7d5bf3b36c1904c447b953"
    "f0918190e1eada4b58eba179031001e1509e8303d7c8c0ec3e79fda53ccf28f9"
    "419a6d4dabe6df615ca26b11ed25bc17ac2a2acefecf765fd8ba96ec38781eaa"
    "fc09649df8de80421cc0d761dff6402803402ab9a63f8e8089d250ae72d13050"
    "570d07a2388b45d5f512b4b4e48676e2fd04613025fe1d0300001f8b08040000"
    "000002030c00736c0800910100001a0200005d915d6fd3301486ef23e53ff87a"
    "d26962cf73120393b2b65aab31b446990cdc39f6696a519290b813fbf738d082"
    "86ce8d7d3e1ebf7e8f2aab654217691ca97082fa75404946fc71c2c95f727a6c"
    "d1c373b595e4fdc1fb41260965d9220d41654ed975d22cfc4f7f1b47cbbef3d8"
    "f933460fc3d119ed5ddf25f3dcbbef53eb43e5c35bfe4afbd0cc522620cd818a"
    "3acde48d903cff7a6ea8d0f4a385ed2abc7f1a3b793a392b8b2cdbef99652018"
    "17c005326874da804935b5761f04f2ecf60cd83e4169ed88d324c95fe5e79ad2"
    "a371ddbeff0fcf8b823726d7900a96032f7403bab8e15018cc79435120d517fc"
    "ddb137df60e5daf02749a683a65230251e1eabcd4e7d5e96ab6d75b7518f6bb5"
    "fbf2a9dcddefd4bafc67d547ec5a7f08baae791cc5d1fdba267fec249bba7e0a"
    "ab094237fd0c7eeb791c3d4f3842d90688242a6c28f432ba0885d2181c42f22a"
    "b9ba5c60dd99debaae95c4d930e1fceb6f091d9a793d923c200e501edd0bce2a"
    "e6f805819b67c21a0200001f8b08040000000002030c00736c08001302000024"
    "0300007592d96eab301086ef9178073fc0316043cc7216294da466216423cd72"
    "67b04950284660aae6ed8f4392f6acb264599e99cff3ff9e6d7f35309161e9da"
    "569d607ca978006ade54a26cf8fd72c5535133381e06e05b5b9741dbe62c701c"
    "e26656c620466a737c4ca14f6d75ea39cc6234e925befbe30ed8d23acdcb4cfc"
    "89f07d27493d0a2d823d85a009a47ecf817eca3d27419c70441f888128d3b6ae"
    "7929612c7e85f8ae9b65986148b043a043388609b512985a14319621ec3a1f7d"
    "c4b43e720937abb1229ca4ac02d3540986a5160a3c846d3331e4bb7ce40fa954"
    "6e600b1368791091d872831e091cef704f182f609f31655713800fd03df65488"
    "f40c87f991373200cd89a2e0653f1d46dbfd9eaca268335bbe0cc2a7704596a3"
    "833def8f67e1fc5eb9a0974250f67bed7882c9cedd2d37e1d49e8fa370e94487"
    "f96eb218ed9fd7180f26baa62c929d3fdd1fd2aa2af294ca5c94e655ead7d7e6"
    "2855e4fbe7e73e0a425e1ee5490925beaee9da288e17d79150c22d309feada9a"
    "d76fbc0ec03a7fad0ade852d8380c5459e14dc3610325c5dbb99b56ecb2f0011"
    "d06f8f9d71e06119789ec59f4fcaae47c9dfa55915342fff6ec6b3752da48d84"
    "33c1f22ce7ecff6cf7c6beb9d7755e0871a6457ee620bd61419197ff50ec7782"
    "23210155434f0bb55d471d24a22d19ad2f86768dff0414ebe577240300001f8b"
    "08040000000002030c00736c08003b010000a90100009590d16e82401045df49"
    "f8077e605d5897edeea669a2a809d6d244511adf866544520b069768ffbe9860"
    "9af4ad6f3733774ee6de6cb28e6830f25d27eb1549bfcfa8bd2fb450808561b8"
    "46d3b4058967da7beeda5a775d55e800f2301f0b460a2119e18201c9998fc420"
    "1ef22260c628f5320032684d551f9a3f08ae14cf8d04e20b2609579013502127"
    "caa0e479800203782052684bb464bb8e7bc2e33f4d695977a3a62de9a539d82b"
    "b448afbd8df6cad0b749122fe69b74646ff6819981edf3319f09e24b1288d47f"
    "d2a1d05cee07c3f4d4984f32ab4abc58ed5d8e106896ed926cbed84cb7af0b1e"
    "7eeca2f47d3fde2fe79b385926ab68e53a51535bacedd09ec59ba5e71354f5ef"
    "668575698fdae3d2755ce79f1538f79b1f4d4793cca90100001f8b0804000000"
    "0002030c00736c0800b1010000580200007591516bdb3010c7df03f90e26ef17"
    "4b8aac58621ba4491ec2daaeb8ded2f565c8f2d931756c4f9669f7ed27bb091b"
    "832110c7ff7ff7d3dde9b849b6215d92f9ece823487f75a8028b7d3b58831731"
    "41d3da1c0e3b157c186ca386a1ca558146c6846b581b92036719422ca8849c44"
    "0515467029a24f17c0515b533545fb0f824bc933136b2082c5c0a5ce40cb8883"
    "3418f38ca240aaaf886ddb98c15a6c1ca4eddf10aab3285b0906b9881970c134"
    "648c2018c422cb293346ca2b24d5b644075f9383279cd1e95c3badc2b06c8665"
    "6bcbb06f0bf7aa2d86af3e2df49199a21fbe6c38fba7fba57b7357d84e3bbf2a"
    "4698001203152959ab48281e3f5f126eead6bcc0ae2ab1772ae84f9aaafd66b5"
    "f9bee1f74fdfd2e47e7ffbf478b3fb7258dd3d3e24ecf3fef96e3b9ff939dd34"
    "e4f4110edf5cd8d5ba6afe38b7d894eea402cad7f3d97cb6809f8b600130760b"
    "4555e3c7d09dbbd0a2ae27bd69dfad17c40eeab69cc41c6b7408ba706847e1c1"
    "5f53d9386e3e169e9cebfc66285b2f893f54c594ad423d2ee0bf6ef6eecec6b6"
    "7e0398ee2aef58020000"
)

def test_warc_parses_real_wget_bytes():
    """Byte-level pin against a REAL external WARC producer: the embedded
    fixture was written by GNU Wget (see _REAL_WARC_WGET comment). This is
    the WARC analogue of the ZIP/real-wheels and gzip/man-pages pins —
    self-generated twins cannot catch a framing convention shared by
    writer and reader."""
    import gzip

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_gzip,
        parse_warc,
    )

    # multi-member split: one gzip member per record, joined == stdlib
    members = parse_gzip(_REAL_WARC_WGET)
    assert len(members) == 7
    stream = b"".join(members)
    assert stream == gzip.decompress(_REAL_WARC_WGET)

    recs = parse_warc(stream, with_headers=True)
    assert [t for t, _, _, _ in recs] == [
        "warcinfo", "request", "response",
        "request", "response", "metadata", "resource",
    ]
    # every declared Content-Length matched its slice exactly
    for _, clen, content, _ in recs:
        assert len(content) == clen
    # wget's warcinfo self-identifies — proof the bytes are external
    assert recs[0][2].startswith(b"software: Wget/")
    # the first response carries the exact served page after HTTP headers
    a_body = (
        b"The quick brown fox jumps over the lazy dog.\n"
        b"Second line of the first page.\n"
    )
    assert recs[2][2].endswith(a_body)
    assert recs[2][3][b"warc-type"] == b"response"
    assert b"a.txt" in recs[2][3][b"warc-target-uri"]
    # the second page CONTAINS delimiter-lookalike bytes; Content-Length
    # framing must carry the parser straight across them
    assert b"WARC/1.0 lookalike content line\r\n" in recs[4][2]
    assert b"Content-Length: 99\r\n\r\n" in recs[4][2]
    # per-member framing: each record also parses alone from its member
    for m in members:
        assert len(parse_warc(m)) == 1


def test_tgz_plan_generator_opens_with_stdlib_tarfile(spark):
    """The .tar.gz generator's bytes must be a REAL compressed shard by
    the authoritative readers' standards: stdlib tarfile in 'r:gz' mode
    (gzip + ustar layers both) lists exactly the two members with the
    right names, sizes, and payloads."""
    import io
    import tarfile

    from stream_processing_pipeline_spark.plans import REGISTRY
    from stream_processing_pipeline_spark.plans.common import catalog
    from stream_processing_pipeline_spark.plans import multimodalq as MQ
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = (
        catalog(spark, sf).documents.select("doc_id", "text", "lang")
        .orderBy("doc_id")
        .limit(8)
    )
    payloads = MQ._stored_gzip_wrap(
        docs.select("doc_id", MQ._tar_payload_col().alias("member"))
    ).collect()
    rows = {r.doc_id: r for r in docs.collect()}
    assert len(payloads) == 8
    for r in payloads:
        with tarfile.open(fileobj=io.BytesIO(bytes(r.payload)), mode="r:gz") as t:
            members = t.getmembers()
            assert [m.name for m in members] == [
                f"{r.doc_id}.txt", f"{r.doc_id}.cls"
            ]
            src = rows[r.doc_id]
            assert t.extractfile(members[0]).read() == src.text.encode()
            assert t.extractfile(members[1]).read() == src.lang.encode()


def test_tgz_wrap_rejects_oversized_member(spark):
    """Stored-mode deflate frames one 16-bit-LEN block; the generator must
    fail an over-65535-byte member with an explanatory raise_error, not a
    silently-truncated LEN that dies later as an opaque NLEN/inflate
    error (ADVICE r10)."""
    import pytest

    from stream_processing_pipeline_spark.plans import multimodalq as MQ

    big = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.expr("CAST(repeat('x', 70000) AS BINARY)").alias("member"),
    )
    with pytest.raises(Exception, match="stored-mode deflate caps"):
        MQ._stored_gzip_wrap(big).collect()
    # boundary: exactly 65535 bytes still frames and round-trips
    edge = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.expr("CAST(repeat('y', 65535) AS BINARY)").alias("member"),
    )
    import gzip

    (row,) = MQ._stored_gzip_wrap(edge).collect()
    assert gzip.decompress(bytes(row.payload)) == b"y" * 65535


def test_tgz_index_rejects_duplicate_extension_key(spark):
    """WebDataset keys sample modalities BY EXTENSION; two members sharing
    one extension would silently shadow each other's sizes, so the
    indexer rejects the shard with a counting message (ADVICE r10)."""
    import io
    import tarfile

    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        index_tgz_members_arrow,
    )

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as t:
        for name, data in [("1.txt", b"alpha"), ("2.txt", b"beta")]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            t.addfile(info, io.BytesIO(data))
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="duplicate extension key"):
        index_tgz_members_arrow(df).collect()


def test_tgz_index_reads_stdlib_written_shard(spark):
    """REAL-BYTES pin for the WebDataset read path (VERDICT r10 #7): the
    shard is written by an INDEPENDENT producer — stdlib ``tarfile`` in
    'w:gz' mode (PAX headers, 512-byte padding, real dynamic-deflate
    gzip) — and indexed by the repo decoders. Catches framing conventions
    a writer/reader twin would share. Covers both tar dialects stdlib
    emits: PAX (default) and GNU."""
    import io
    import tarfile

    from stream_processing_pipeline_spark.operators.multimodal import (
        index_tgz_members_arrow,
    )

    text = ("the quick brown fox " * 40).encode()  # compressible: real deflate
    lang = b"en"
    shards = []
    for fmt in (tarfile.PAX_FORMAT, tarfile.GNU_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w:gz", format=fmt) as t:
            for name, data in [("7.txt", text), ("7.cls", lang)]:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                t.addfile(info, io.BytesIO(data))
        shards.append(buf.getvalue())
    df = spark.createDataFrame(
        [(i, bytearray(s)) for i, s in enumerate(shards)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in index_tgz_members_arrow(df).collect()}
    assert set(rows) == {0, 1}
    for i, shard in enumerate(shards):
        r = rows[i]
        # PAX adds an 'x' metadata record per member: walked over, not
        # indexed — n_members counts regular files only.
        assert r.n_members == 2
        assert r.txt_bytes == len(text)
        assert r.cls_bytes == len(lang)
        assert r.gz_bytes == len(shard)


def test_warc_http_stats_rejects_wrong_response_count(spark):
    """A shard with zero (or many) WARC response records must die with a
    typed, count-bearing HttpResponseError, not a bare tuple-unpack
    ValueError (ADVICE r10)."""
    import gzip as _gzip

    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        decode_warc_http_stats_arrow,
    )

    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Record-ID: urn:doc:1\r\n"
        b"Content-Length: 2\r\n"
        b"\r\n"
        b"ok"
        b"\r\n\r\n"
    )
    df = spark.createDataFrame(
        [(1, bytearray(_gzip.compress(rec)))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="expected exactly 1 response record"):
        decode_warc_http_stats_arrow(df).collect()


def test_http_response_parses_real_wget_payloads():
    """parse_http_response pinned against REAL HTTP response messages —
    the ones GNU Wget captured into the embedded WARC fixture. The
    second page's body contains WARC-delimiter lookalikes; the HTTP
    parse must return it byte-exact."""
    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        HttpResponseError,
        parse_gzip,
        parse_http_response,
        parse_warc,
    )

    recs = parse_warc(b"".join(parse_gzip(_REAL_WARC_WGET)), with_headers=True)
    responses = [c for t, _, c, h in recs if t == "response"]
    assert len(responses) == 2
    status, hdrs, body = parse_http_response(responses[0])
    assert status == 200
    assert hdrs[b"content-type"].startswith(b"text/plain")
    assert body == (
        b"The quick brown fox jumps over the lazy dog.\n"
        b"Second line of the first page.\n"
    )
    assert int(hdrs[b"content-length"]) == len(body)
    status2, hdrs2, body2 = parse_http_response(responses[1])
    assert status2 == 200
    assert body2.startswith(b"WARC/1.0 lookalike content line\r\n")
    assert int(hdrs2[b"content-length"]) == len(body2)
    # reject-don't-misread
    with pytest.raises(HttpResponseError, match="status line"):
        parse_http_response(b"HTTP/1.1 200 OK")  # no CRLF
    with pytest.raises(HttpResponseError, match="status line"):
        parse_http_response(b"ICY 200 OK\r\n\r\n")
    with pytest.raises(HttpResponseError, match="3 digits"):
        parse_http_response(b"HTTP/1.1 20 OK\r\n\r\n")
    with pytest.raises(HttpResponseError, match="header block"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nServer: x\r\n")
    with pytest.raises(HttpResponseError, match="header line"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nbroken\r\n\r\n")


def test_warc_poison_suite():
    import pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        WarcError,
        parse_warc,
    )

    good = _warc_record(b"conversion", b"abc")
    with pytest.raises(WarcError, match="version"):
        parse_warc(good.replace(b"WARC/1.0", b"WARC/1.1"))
    with pytest.raises(WarcError, match="WARC-Type"):
        parse_warc(good.replace(b"WARC-Type", b"X-Type"))
    with pytest.raises(WarcError, match="Content-Length"):
        parse_warc(_warc_record(b"conversion", b"abc").replace(
            b"Content-Length", b"X-Length"))
    with pytest.raises(WarcError, match="non-integer"):
        parse_warc(good.replace(b"Content-Length: 3", b"Content-Length: x"))
    with pytest.raises(WarcError, match="runs past"):
        parse_warc(good.replace(b"Content-Length: 3", b"Content-Length: 9"))
    with pytest.raises(WarcError, match="CRLFCRLF"):
        parse_warc(good.replace(b"Content-Length: 3", b"Content-Length: 2"))
    with pytest.raises(WarcError, match="malformed header"):
        parse_warc(good.replace(b"WARC-Type: conversion",
                                b"WARC-Type conversion!"))
    with pytest.raises(WarcError, match="max_total_content"):
        parse_warc(good, max_total_content=2)
    with pytest.raises(WarcError, match="max_records"):
        parse_warc(good + good, max_records=1)
    with pytest.raises(WarcError, match="empty"):
        parse_warc(b"")


def test_warc_gz_plan_generator_roundtrips_through_stdlib_gzip(spark):
    """The in-plan WET shard is a real gzip by stdlib standards and its
    WARC interior matches the independent record builder."""
    import gzip

    from stream_processing_pipeline_spark.plans.multimodalq import (
        _WET_INFO,
        _WET_TEXT_LEN,
        mm_warc_wet_ingest_stats,
    )
    from stream_processing_pipeline_spark.plans import multimodalq as MQ
    from pyspark.sql import functions as F

    p = MQ._WARC_PARTS
    text_bin = (
        f"encode(array_join(transform(sequence(0, {_WET_TEXT_LEN - 1}), "
        f"p -> char(97 + ((doc_id % 64) + p) % 26)), ''), 'utf-8')"
    )
    crc_le = (
        "concat(substr(ch, 7, 2), substr(ch, 5, 2), "
        "substr(ch, 3, 2), substr(ch, 1, 2))"
    )
    rows = (
        spark.range(0, 30).select(F.col("id").alias("doc_id"))
        .select("doc_id", F.expr(
            f"concat(unhex('{p['pre']}'), {text_bin}, unhex('{p['tail']}'))"
        ).alias("member"))
        .select("doc_id", "member",
                F.expr("lpad(hex(crc32(member)), 8, '0')").alias("ch"))
        .select("doc_id", F.expr(
            f"concat(unhex('{p['gz_pre']}'), member, unhex({crc_le}), "
            f"unhex('{p['isize']}'))"
        ).alias("payload"))
        .collect()
    )
    for r in rows:
        d = int(r.doc_id)
        text = bytes(97 + ((d % 64) + i) % 26 for i in range(_WET_TEXT_LEN))
        want = _warc_record(b"warcinfo", _WET_INFO) + _warc_record(
            b"conversion", text
        )
        assert gzip.decompress(bytes(r.payload)) == want


def test_gzip_foreign_bytes_multimember_and_pigz_style_tgz(spark):
    """(VERDICT r11 #7) Multi-member gzip framing pinned against FOREIGN
    bytes: members produced by the system ``/usr/bin/gzip`` binary — a
    second independent producer, exercising pipe mode (no FNAME), file
    mode (FNAME + mtime set), and ``-9`` — never by the stdlib/zlib pair
    the parser was developed against. Also pins the real-world shard
    convention this closes: a ``.tar.gz`` whose bytes are SPLIT across
    gzip members (pigz/bgzip parallel compressors emit many members whose
    concatenated inflate is the one tar) must index identically to a
    single-member shard."""
    import gzip as _gzip
    import io
    import shutil
    import subprocess
    import tarfile

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        index_tgz_members_arrow,
        parse_gzip,
    )

    gz = shutil.which("gzip")
    if gz is None:
        _pytest.skip("no system gzip binary")

    def foreign_pipe(data: bytes, *flags: str) -> bytes:
        return subprocess.run(
            [gz, "-c", *flags], input=data, capture_output=True, check=True
        ).stdout

    def foreign_file(data: bytes, tmpdir) -> bytes:
        # file mode sets FNAME (+ mtime) in the member header — a header
        # shape the pipe path never produces
        p = tmpdir / "named_input.bin"
        p.write_bytes(data)
        subprocess.run([gz, "-kf", str(p)], check=True)
        return (tmpdir / "named_input.bin.gz").read_bytes()

    import pathlib
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        parts = [
            b"alpha body, short",
            bytes(range(256)) * 64,  # 16 KiB -> multiple deflate blocks
            b"tail member via -9",
        ]
        cat = (
            foreign_pipe(parts[0])
            + foreign_file(parts[1], pathlib.Path(td))
            + foreign_pipe(parts[2], "-9")
        )
    assert parse_gzip(cat) == parts
    assert b"".join(parse_gzip(cat)) == _gzip.decompress(cat)

    # pigz-style .tar.gz: one ustar archive split across TWO foreign gzip
    # members at an arbitrary (non-block-aligned) byte offset
    buf = io.BytesIO()
    t = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    for name, data in (("5.txt", b"x" * 777), ("5.cls", b"en")):
        info = tarfile.TarInfo(name)
        info.size = len(data)
        t.addfile(info, io.BytesIO(data))
    t.close()
    tar_bytes = buf.getvalue()
    cut = 700  # mid-header/mid-data split, not 512-aligned
    split_shard = foreign_pipe(tar_bytes[:cut]) + foreign_pipe(tar_bytes[cut:])
    single_shard = _gzip.compress(tar_bytes, mtime=0)

    df = spark.createDataFrame(
        [(1, bytearray(split_shard)), (2, bytearray(single_shard))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in index_tgz_members_arrow(df).collect()}
    for doc_id in (1, 2):
        r = rows[doc_id]
        assert (r.n_members, r.txt_bytes, r.cls_bytes, r.archive_bytes) == (
            2, 777, 2, len(tar_bytes)
        ), f"doc {doc_id}"
    assert rows[1].gz_bytes == len(split_shard)
    assert rows[2].gz_bytes == len(single_shard)


def test_bz2_foreign_bytes_multistream_and_pbzip2_style_tbz2(spark):
    """(round 12) The bzip2 series-of-streams framing pinned against
    FOREIGN bytes: streams produced by the system ``bzip2`` binary — a
    second independent producer (pipe mode, block sizes -1 and -9) —
    never by the stdlib codec the walker was developed against; and the
    pbzip2 shard convention end to end: a ``.tar.bz2`` whose tar bytes
    are split across bzip2 streams at a non-block-aligned offset must
    index identically to a single-stream shard (modulo n_streams)."""
    import bz2 as _bz2
    import io
    import shutil
    import subprocess
    import tarfile

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        index_tbz2_members_arrow,
        parse_bz2,
    )

    bz = shutil.which("bzip2")
    if bz is None:
        _pytest.skip("no system bzip2 binary")

    def foreign(data: bytes, *flags: str) -> bytes:
        return subprocess.run(
            [bz, "-c", *flags], input=data, capture_output=True, check=True
        ).stdout

    parts = [
        b"alpha body, short",
        bytes(range(256)) * 64,  # 16 KiB
        b"tail stream via -9",
    ]
    cat = foreign(parts[0], "-1") + foreign(parts[1]) + foreign(parts[2], "-9")
    assert parse_bz2(cat) == parts
    assert b"".join(parse_bz2(cat)) == _bz2.decompress(cat)

    buf = io.BytesIO()
    t = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    for name, data in (("5.txt", b"x" * 777), ("5.cls", b"en")):
        info = tarfile.TarInfo(name)
        info.size = len(data)
        t.addfile(info, io.BytesIO(data))
    t.close()
    tar_bytes = buf.getvalue()
    cut = 700
    split_shard = foreign(tar_bytes[:cut]) + foreign(tar_bytes[cut:], "-9")
    single_shard = _bz2.compress(tar_bytes)

    df = spark.createDataFrame(
        [(1, bytearray(split_shard)), (2, bytearray(single_shard))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in index_tbz2_members_arrow(df).collect()}
    for doc_id, want_streams in ((1, 2), (2, 1)):
        r = rows[doc_id]
        assert (
            r.n_members, r.n_streams, r.txt_bytes, r.cls_bytes,
            r.archive_bytes,
        ) == (2, want_streams, 777, 2, len(tar_bytes)), f"doc {doc_id}"


def test_parse_bz2_reject_paths():
    """parse_bz2 error taxonomy: structure errors for bad magic/version/
    level digit, truncation, and inter-stream garbage; data errors for
    corrupt payload and for the decode-time bomb cap (bzip2 carries no
    size field, so the cap must bind DURING decode)."""
    import bz2 as _bz2

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        Bz2DataError,
        Bz2StructureError,
        parse_bz2,
    )

    good = _bz2.compress(b"payload bytes", 1)

    with _pytest.raises(Bz2StructureError, match="empty"):
        parse_bz2(b"")
    with _pytest.raises(Bz2StructureError, match="magic"):
        parse_bz2(b"GZ" + good[2:])
    with _pytest.raises(Bz2StructureError, match="version"):
        parse_bz2(good[:2] + b"0" + good[3:])
    with _pytest.raises(Bz2StructureError, match="block-size"):
        parse_bz2(good[:3] + b"0" + good[4:])
    with _pytest.raises(Bz2StructureError, match="truncated"):
        parse_bz2(good[:-4])
    with _pytest.raises(Bz2StructureError, match="magic"):
        parse_bz2(good + b"JUNKJUNK")  # trailing non-stream bytes
    corrupt = bytearray(good)
    corrupt[12] ^= 0xFF  # flip bits inside the compressed body
    with _pytest.raises(Bz2DataError, match="decode failed"):
        parse_bz2(bytes(corrupt))
    bomb = _bz2.compress(b"\x00" * 100_000, 1)  # ~70 B compressed
    with _pytest.raises(Bz2DataError, match="cap"):
        parse_bz2(bomb, max_total_uncompressed=50_000)
    # cap is TOTAL across streams, not per stream
    with _pytest.raises(Bz2DataError, match="cap"):
        parse_bz2(bomb + bomb, max_total_uncompressed=150_000)
    assert parse_bz2(bomb, max_total_uncompressed=100_000) == [b"\x00" * 100_000]


def test_xz_foreign_bytes_multistream_padding(spark):
    """(round 12) The xz series-of-streams + stream-padding framing
    pinned against FOREIGN bytes (system ``xz`` binary, presets -0/-9e),
    including the trap that motivates the walker: stdlib one-shot
    ``lzma.decompress`` silently TRUNCATES at inter-stream padding —
    this test asserts the truncation is real (guarding against a stdlib
    behavior change making the docstring stale) and that ``parse_xz``
    decodes what the reference binary decodes. Then the shard path:
    a padded two-stream ``.tar.xz`` must index identically to a
    single-stream one (modulo n_streams)."""
    import io
    import lzma as _lzma
    import shutil
    import subprocess
    import tarfile

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        index_txz_members_arrow,
        parse_xz,
    )

    xz = shutil.which("xz")
    if xz is None:
        _pytest.skip("no system xz binary")

    def foreign(data: bytes, *flags: str) -> bytes:
        return subprocess.run(
            [xz, "-c", *flags], input=data, capture_output=True, check=True
        ).stdout

    parts = [b"alpha body, short", bytes(range(256)) * 64, b"tail via -9e"]
    pad = b"\x00" * 8
    cat = foreign(parts[0], "-0") + pad + foreign(parts[1]) + foreign(
        parts[2], "-9e"
    ) + pad
    assert parse_xz(cat) == parts
    # the reference binary agrees with the walk...
    ref = subprocess.run(
        [xz, "-dc"], input=cat, capture_output=True, check=True
    ).stdout
    assert b"".join(parse_xz(cat)) == ref
    # ...and the stdlib one-shot call really does truncate at padding
    assert _lzma.decompress(cat) == parts[0]

    buf = io.BytesIO()
    t = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    for name, data in (("5.txt", b"x" * 777), ("5.cls", b"en")):
        info = tarfile.TarInfo(name)
        info.size = len(data)
        t.addfile(info, io.BytesIO(data))
    t.close()
    tar_bytes = buf.getvalue()
    cut = 700
    split_shard = foreign(tar_bytes[:cut]) + pad + foreign(tar_bytes[cut:])
    single_shard = _lzma.compress(tar_bytes)

    df = spark.createDataFrame(
        [(1, bytearray(split_shard)), (2, bytearray(single_shard))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in index_txz_members_arrow(df).collect()}
    for doc_id, want_streams in ((1, 2), (2, 1)):
        r = rows[doc_id]
        assert (
            r.n_members, r.n_streams, r.txt_bytes, r.cls_bytes,
            r.archive_bytes,
        ) == (2, want_streams, 777, 2, len(tar_bytes)), f"doc {doc_id}"


def test_parse_xz_reject_paths():
    """parse_xz error taxonomy: structure errors for bad magic,
    misaligned padding, truncation; data errors for corrupt payload
    (FORMAT_XZ integrity checks) and the decode-time bomb cap."""
    import lzma as _lzma

    import pytest as _pytest

    from stream_processing_pipeline_spark.operators.multimodal import (
        XzDataError,
        XzStructureError,
        parse_xz,
    )

    good = _lzma.compress(b"payload bytes")

    with _pytest.raises(XzStructureError, match="empty"):
        parse_xz(b"")
    with _pytest.raises(XzStructureError, match="magic"):
        parse_xz(b"NOTXZ!" + good[6:])
    with _pytest.raises(XzStructureError, match="padding"):
        parse_xz(good + b"\x00" * 6 + good)  # 6 is not a multiple of 4
    with _pytest.raises(XzStructureError, match="padding"):
        parse_xz(good + b"\x00" * 3)  # trailing misaligned padding
    with _pytest.raises(XzStructureError, match="truncated"):
        parse_xz(good[:-6])
    with _pytest.raises(XzStructureError, match="magic"):
        parse_xz(good + b"\x00" * 4 + b"JUNKJUNK")
    corrupt = bytearray(good)
    corrupt[20] ^= 0xFF
    with _pytest.raises(XzDataError, match="decode failed"):
        parse_xz(bytes(corrupt))
    bomb = _lzma.compress(b"\x00" * 100_000)
    with _pytest.raises(XzDataError, match="cap"):
        parse_xz(bomb, max_total_uncompressed=50_000)
    with _pytest.raises(XzDataError, match="cap"):
        parse_xz(bomb + bomb, max_total_uncompressed=150_000)
    assert parse_xz(bomb + b"\x00" * 4, max_total_uncompressed=100_000) == [
        b"\x00" * 100_000
    ]


def test_connected_components_empty_edges(spark):
    """No candidate pairs means no components: zero rows with the
    ``(node, component)`` schema typed like the edge columns, not a schema
    inference error on the empty driver-side result."""
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    out = connected_components(edges)
    assert out.columns == ["node", "component"]
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]
    assert out.count() == 0


def test_connected_components_min_id_labels(spark):
    edges = spark.createDataFrame([(3, 1), (1, 2), (7, 5)], "doc_a long, doc_b long")
    got = sorted(map(tuple, connected_components(edges).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (7, 5)]
