"""The binary-payload gates' per-row decoders and their row harness.

Every multimodal gate is ``_payload_rows`` (one Arrow-batched
mapInPandas) around a module-level per-row function, so each decoder
can be driven here without Spark: a valid payload must give the
statistics the gate's DuckDB oracle computes from the generator
formula, and the same payload with one corrupted byte (magic, header
variant, chunk CRC, format code, filter type) must raise ValueError
instead of decoding to wrong numbers. The last test runs the harness
itself over more partitions than rows with a row-multiplying
``per_row``."""

import hashlib
import struct
import zlib

import pytest

from defi_features_data_pipeline_spark.queries import extensions as ext

DOCS = (0, 1, 7, 23, 64)


def _luma(pixels):
    return sum(299 * r + 587 * g + 114 * b for r, g, b in pixels)


# ---- BMP -------------------------------------------------------------------


def _bmp_expected(d):
    w, h = 8 + d % 9, 5 + d % 7
    px = [
        ((d * 7 + x * 13 + y * 31) % 256, (d * 11 + x * 3 + y * 5) % 256,
         (d * 17 + x * 29 + y * 23) % 256)
        for y in range(h) for x in range(w)
    ]
    return [(d, w, h, w * h, _luma(px))]


def test_decode_bmp_matches_oracle_formula():
    for d in DOCS:
        assert ext._decode_bmp(d, ext._bmp_bytes(d)) == _bmp_expected(d)


def test_decode_bmp_rejects_corruption():
    buf = bytearray(ext._bmp_bytes(7))
    with pytest.raises(ValueError, match="not a BMP"):
        ext._decode_bmp(7, b"X" + bytes(buf[1:]))
    buf[28] = 32  # biBitCount 24 -> 32
    with pytest.raises(ValueError, match="unsupported BMP variant"):
        ext._decode_bmp(7, bytes(buf))


# ---- WAV (per file and per window) -----------------------------------------


def _wav_samples(d):
    return [((d * 31 + i * 17) % 65536) - 32768 for i in range(50 + d % 50)]


def test_decode_wav_matches_oracle_formula():
    for d in DOCS:
        s = _wav_samples(d)
        want = [(d, 8000 + (d % 5) * 1000, len(s), sum(map(abs, s)),
                 sum(v * v for v in s))]
        assert ext._decode_wav(d, ext._wav_bytes(d)) == want


def test_decode_wav_windows_matches_oracle_formula():
    W = ext.AUDIO_WINDOW_SAMPLES
    for d in DOCS:
        s = _wav_samples(d)
        want = [
            (d, k, len(seg), sum(map(abs, seg)), sum(v * v for v in seg))
            for k, seg in enumerate(s[i : i + W] for i in range(0, len(s), W))
        ]
        assert ext._decode_wav_windows(d, ext._wav_bytes(d)) == want


def test_decode_wav_rejects_corruption():
    buf = bytearray(ext._wav_bytes(7))
    with pytest.raises(ValueError, match="not a WAV"):
        ext._decode_wav(7, bytes(buf[:8]) + b"WAVX" + bytes(buf[12:]))
    buf[20] = 3  # `fmt ` audio format 1 (PCM) -> 3 (IEEE float)
    for decode in (ext._decode_wav, ext._decode_wav_windows):
        with pytest.raises(ValueError, match="not PCM"):
            decode(7, bytes(buf))
    buf[20] = 1
    buf[34] = 8  # bits per sample 16 -> 8
    with pytest.raises(ValueError, match="unsupported WAV layout"):
        ext._decode_wav(7, bytes(buf))


# ---- AVI -------------------------------------------------------------------


def test_decode_avi_matches_oracle_formula():
    for d in DOCS:
        w, h, nf = 4 + d % 5, 3 + d % 4, 4 + d % 8
        want = [
            (d, f, w, h, _luma(
                ((d * 7 + f * 41 + x * 13 + y * 31) % 256,
                 (d * 11 + f * 43 + x * 3 + y * 5) % 256,
                 (d * 17 + f * 47 + x * 29 + y * 23) % 256)
                for y in range(h) for x in range(w)
            ))
            for f in range(0, nf, ext.AVI_SAMPLE_EVERY)
        ]
        assert ext._decode_avi(d, ext._avi_bytes(d)) == want


def test_decode_avi_rejects_corruption():
    buf = bytearray(ext._avi_bytes(7))
    with pytest.raises(ValueError, match="not an AVI"):
        ext._decode_avi(7, bytes(buf[:8]) + b"AVIX" + bytes(buf[12:]))
    avih = bytes(buf).index(b"avih") + 8
    buf[avih + 16] += 1  # avih frame count no longer matches the movi list
    with pytest.raises(ValueError, match="malformed AVI"):
        ext._decode_avi(7, bytes(buf))


# ---- PNG -------------------------------------------------------------------


def _png_expected(d):
    w, h = 6 + d % 11, 4 + d % 8
    px = [
        ((d * 5 + x * 19 + y * 37) % 256, (d * 13 + x * 7 + y * 11) % 256,
         (d * 23 + x * 3 + y * 29) % 256)
        for y in range(h) for x in range(w)
    ]
    return [(d, w, h, w * h, _luma(px))]


def _png_chunks(buf):
    """[(type, data)] of a PNG byte stream (CRCs not checked)."""
    pos, out = 8, []
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        out.append((buf[pos + 4 : pos + 8], buf[pos + 8 : pos + 8 + ln]))
        pos += 12 + ln
    return out


def _png_from_chunks(chunks):
    return b"\x89PNG\r\n\x1a\n" + b"".join(
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        for typ, data in chunks
    )


def test_decode_png_matches_oracle_formula():
    for d in DOCS:
        assert ext._decode_png(d, ext._png_bytes(d)) == _png_expected(d)


def test_decode_png_rejects_corruption():
    buf = ext._png_bytes(7)
    with pytest.raises(ValueError, match="not a PNG"):
        ext._decode_png(7, b"\x88" + buf[1:])
    # one flipped byte inside the first IDAT's data: CRC no longer matches
    idat = buf.index(b"IDAT") + 4
    with pytest.raises(ValueError, match="CRC mismatch"):
        ext._decode_png(7, buf[:idat] + bytes([buf[idat] ^ 1]) + buf[idat + 1 :])
    chunks = _png_chunks(buf)
    # IHDR color type 2 (RGB) -> 6 (RGBA), CRC recomputed so only the
    # variant check can reject it
    ihdr = bytearray(chunks[0][1])
    ihdr[9] = 6
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        ext._decode_png(7, _png_from_chunks([(b"IHDR", bytes(ihdr))] + chunks[1:]))
    # row 0 filter type 0 -> 2 (Up, not produced by the encoder), stream
    # recompressed and re-chunked with valid CRCs
    raw = bytearray(zlib.decompress(b"".join(d for t, d in chunks if t == b"IDAT")))
    raw[0] = 2
    refiltered = [chunks[0], (b"IDAT", zlib.compress(bytes(raw))), (b"IEND", b"")]
    with pytest.raises(ValueError, match="filter 2"):
        ext._decode_png(7, _png_from_chunks(refiltered))


# ---- JPEG ------------------------------------------------------------------


def test_decode_jpeg_matches_oracle_formula():
    for d in DOCS:
        w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
        ks = [
            (d * 7 + bx * 13 + by * 31) % 256 - 128
            for by in range(h // 8) for bx in range(w // 8)
        ]
        want = [(d, w, h, w * h, sum(64 * (k + 128) for k in ks),
                 sum(k * k for k in ks))]
        assert ext._decode_jpeg(d, ext._jpeg_bytes(d)) == want


def test_decode_jpeg_rejects_corruption():
    buf = ext._jpeg_bytes(7)
    with pytest.raises(ValueError, match="SOI"):
        ext._decode_jpeg(7, b"\x00" + buf[1:])


# ---- GIF -------------------------------------------------------------------


def test_decode_gif_matches_oracle_formula():
    for d in DOCS:
        w, h = 7 + d % 10, 5 + d % 7
        px = [
            ((d * 7 + c * 31) % 256, (d * 11 + c * 17) % 256, (d * 3 + c * 53) % 256)
            for c in ((d + 3 * x + 7 * y) % 16 for y in range(h) for x in range(w))
        ]
        assert ext._decode_gif(d, ext._gif_bytes(d)) == [(d, w, h, w * h, _luma(px))]


def test_decode_gif_rejects_corruption():
    buf = bytearray(ext._gif_bytes(7))
    with pytest.raises(ValueError, match="not a GIF87a"):
        ext._decode_gif(7, b"GIF89a" + bytes(buf[6:]))
    desc = 13 + 3 * ext.GIF_COLORS
    assert buf[desc] == 0x2C
    buf[desc + 9] |= 0x40  # image descriptor: interlaced
    with pytest.raises(ValueError, match="unsupported GIF variant"):
        ext._decode_gif(7, bytes(buf))


# ---- UTF-8 stand-ins -------------------------------------------------------


def test_utf8_stand_ins():
    text = "".join(chr(ord("a") + i % 26) for i in range(600))
    payload = text.encode("utf-8")
    md5 = lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()  # noqa: E731
    assert ext._extract_payload(3, payload, "en") == [
        (3, 600, hashlib.md5(payload).hexdigest(), "en")
    ]
    assert ext._sample_frames(3, payload) == [
        (3, i, i * 256, md5(text[i * 256 : i * 256 + 64])) for i in range(3)
    ]
    assert ext._sample_frames(3, b"") == []
    assert ext._resize_payload(3, payload) == [(3, 600, 150, md5(text[::4]))]


# ---- the harness -----------------------------------------------------------


def test_payload_rows_multiplies_rows_across_sparse_partitions(spark):
    """8 partitions over 5 rows: the empty partitions must yield typed
    empty frames, and a per_row that returns 0..n tuples must give
    exactly the flattened rows."""
    df = spark.range(5).toDF("doc_id").repartition(8)
    assert df.rdd.getNumPartitions() == 8
    out = ext._payload_rows(
        df,
        lambda doc_id: [(doc_id, i, bytes([i])) for i in range(doc_id)],
        "doc_id long, i long, payload binary",
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("doc_id", "bigint"), ("i", "bigint"), ("payload", "binary")
    ]
    got = sorted((r["doc_id"], r["i"], bytes(r["payload"])) for r in out.collect())
    assert got == [(d, i, bytes([i])) for d in range(5) for i in range(d)]
    none = ext._payload_rows(df, lambda doc_id: [], "doc_id long, n long")
    assert none.count() == 0
