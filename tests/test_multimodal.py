"""Multimodal plumbing: payload-preserving transforms and fan-out shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_20251_steam_spark.operators import multimodal as mm
from bigdata_20251_steam_spark.sources.batch import load_table

from .conftest import SF_SMOKE


MEDIA_DDL = "doc_id long, payload binary, media_type string"


def _media(spark):
    return mm.to_media_frame(load_table(spark, SF_SMOKE, "documents"))


def _one(spark, payload, media_type="application/octet-stream"):
    """A one-payload media frame."""
    return spark.createDataFrame([(1, bytearray(payload), media_type)], MEDIA_DDL)


def _raises_not_implemented(df):
    """Collecting ``df`` fails with the worker's NotImplementedError."""
    with pytest.raises(Exception, match="NotImplementedError"):
        df.collect()


def test_resize_shapes(spark):
    """Every decodable image comes out 1:1 as a P6 of exactly w*h
    pixels (a text payload raises: test_real_decoder_contract)."""
    media = spark.createDataFrame(
        [
            (1, _ppm_p6(3, 2, GOLD_PX), "image/x-portable-pixmap"),
            (2, _bmp24(3, 2, GOLD_PX), "image/bmp"),
            (3, _png(3, 2, GOLD_PX), "image/png"),
        ],
        MEDIA_DDL,
    )
    out = mm.resize_media(media, width=8, height=8)
    assert out.count() == media.count()  # 1:1
    lens = out.select(F.octet_length("payload").alias("n")).distinct().collect()
    assert [r["n"] for r in lens] == [len(b"P6\n8 8\n255\n") + 8 * 8 * 3]


def test_sample_frames_fanout(spark):
    """1:N fan-out: one row per stbl sample of each container, frame 0
    holding the first sample's bytes; a text payload raises."""
    samples = {1: [b"a" * 5, b"bb" * 4, b"c"], 2: [b"\x00\x01" * 9]}
    media = spark.createDataFrame(
        [(d, _mp4_track(s), "video/mp4") for d, s in samples.items()], MEDIA_DDL
    )
    frames = mm.sample_frames(media)
    got = {r["doc_id"]: r["count"] for r in frames.groupBy("doc_id").count().collect()}
    assert got == {d: len(s) for d, s in samples.items()}
    f0 = {
        r["doc_id"]: bytes(r["frame"])
        for r in frames.filter(F.col("frame_idx") == 0).collect()
    }
    assert f0 == {d: s[0] for d, s in samples.items()}
    _raises_not_implemented(mm.sample_frames(_media(spark).limit(1)))


def test_real_decoder_contract(spark):
    media = _media(spark).limit(1)
    with pytest.raises(Exception, match="NotImplementedError|real image resize"):
        mm.resize_media(media).collect()


# ---------------------------------------------------------------------------
# Real pixel decode: golden-pixel tests for the pure-Python PPM/BMP branch
# ---------------------------------------------------------------------------

GOLD_PX = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30), (0, 0, 0), (255, 255, 255)]


def _ppm_p6(w, h, px):
    return (f"P6\n# comment\n{w} {h}\n255\n").encode() + b"".join(
        bytes(p) for p in px
    )


def _ppm_p3(w, h, px):
    body = "\n".join(f"{r} {g} {b}" for r, g, b in px)
    return f"P3\n{w} {h}\n255\n{body}\n".encode()


def _bmp24(w, h, px, top_down=False):
    """Minimal BITMAPINFOHEADER 24bpp BMP; px is row-major top-down RGB."""
    import struct

    stride = (w * 3 + 3) & ~3
    rows = [px[r * w : (r + 1) * w] for r in range(h)]
    if not top_down:
        rows = rows[::-1]  # positive height stores bottom-up
    body = b"".join(
        b"".join(bytes((b, g, r)) for r, g, b in row).ljust(stride, b"\0")
        for row in rows
    )
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h if not top_down else -h, 1, 24, 0,
        len(body), 2835, 2835, 0, 0,
    )
    return hdr + body




def _png(w, h, px, color_type=2, filters=None):
    """Minimal spec-conformant PNG encoder (8-bit RGB/RGBA) so the golden
    tests exercise chosen scanline filters; alpha fixed at 255."""
    import struct
    import zlib

    ch = 3 if color_type == 2 else 4
    filters = filters if filters is not None else [0] * h
    raw = b""
    prev = bytearray(w * ch)
    for r in range(h):
        vals = []
        for c in range(w):
            vals += list(px[r * w + c]) + ([255] if ch == 4 else [])
        line = bytearray(vals)
        f = filters[r]
        enc = bytearray(line)
        if f == 1:  # Sub
            for i in range(len(line) - 1, ch - 1, -1):
                enc[i] = (line[i] - line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(len(line)):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(len(line)):
                a = line[i - ch] if i >= ch else 0
                enc[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(len(line)):
                a = line[i - ch] if i >= ch else 0
                up = prev[i]
                cc = prev[i - ch] if i >= ch else 0
                pp = a + up - cc
                pa, pb, pc = abs(pp - a), abs(pp - up), abs(pp - cc)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else cc)
                enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _jpeg_baseline(blocks, w, h, n_comp=1):
    """Minimal spec-conformant baseline JFIF encoder for block-constant
    images: ``blocks`` maps component -> list of per-8x8-block DC pixel
    values (natural block order, one list entry per MCU-block), every AC
    coefficient zero.  Flat quantization table (all 16s), minimal
    custom-but-valid Huffman tables (12 four-bit DC category codes; a
    single one-bit AC code for EOB).  Exercises the decoder's marker
    parse, canonical Huffman build, DC differential prediction,
    dequantize, IDCT and (for 3 components) 4:4:4 color conversion
    against arithmetic computable by hand."""
    import struct

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([16] * 64)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * n_comp, 8, h, w, n_comp)
    for c in range(n_comp):
        out += bytes([c + 1, 0x11, 0])
    # DC table: 12 codes of length 4, symbols = categories 0..11
    counts_dc = [0, 0, 0, 12] + [0] * 12
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + 12)
        + b"\x00"
        + bytes(counts_dc)
        + bytes(range(12))
    )
    # AC table: one 1-bit code for EOB (symbol 0x00)
    out += (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + 1)
        + b"\x10"
        + bytes([1] + [0] * 15)
        + bytes([0])
    )
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * n_comp, n_comp)
    for c in range(n_comp):
        out += bytes([c + 1, 0x00])
    out += bytes([0, 63, 0])

    bits: list[int] = []

    def emit(val, ln):
        for k in range(ln - 1, -1, -1):
            bits.append((val >> k) & 1)

    pred = [0] * n_comp
    n_blocks = len(blocks[0])
    for bi in range(n_blocks):
        for c in range(n_comp):
            qdc = round(8 * (blocks[c][bi] - 128) / 16)
            diff = qdc - pred[c]
            pred[c] = qdc
            s = abs(diff).bit_length()
            emit(s, 4)  # DC category, our 4-bit canonical code == symbol
            if s:
                emit(diff if diff > 0 else diff + (1 << s) - 1, s)
            emit(0, 1)  # EOB
    while len(bits) % 8:
        bits.append(1)
    for i in range(0, len(bits), 8):
        byte = int("".join(map(str, bits[i : i + 8])), 2)
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)  # stuffing
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_gray_dc_prediction():
    """Two-block grayscale baseline JPEG: per-block solid values ride
    the DC differential chain; expected pixels follow from quantizer
    arithmetic alone (flat q=16 -> recon = 2*round(8*(v-128)/16)+128)."""
    vals = [40, 200]
    expect = [2 * round(8 * (v - 128) / 16) + 128 for v in vals]
    w, h, px = mm.decode_image(_jpeg_baseline([vals], 16, 8))
    assert (w, h) == (16, 8)
    for y in range(8):
        for x in range(16):
            e = expect[x // 8]
            assert px[y * 16 + x] == (e, e, e), (x, y, px[y * 16 + x])


def test_decode_jpeg_color_444_roundtrip():
    """Solid-colour 4:4:4 baseline JPEG: encode YCbCr DC blocks, decode,
    assert the colour survives both quantization roundtrips within the
    flat-16 quantizer's arithmetic bound (+-3 per channel)."""
    for rgb in [(255, 0, 0), (0, 255, 0), (10, 20, 30), (200, 180, 90)]:
        r, g, b = rgb
        y = round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128)
        cr = round(0.5 * r - 0.418688 * g - 0.081312 * b + 128)
        payload = _jpeg_baseline([[y], [cb], [cr]], 8, 8, n_comp=3)
        w, h, px = mm.decode_image(payload)
        assert (w, h) == (8, 8)
        got = px[0]
        assert px == [got] * 64
        for a, e in zip(got, rgb):
            assert abs(a - e) <= 3, (rgb, got)


#: CPython test-suite image pair (Lib/test/imghdrdata/python.{jpg,ppm},
#: PSF-licensed): the SAME 16x16 image as a real-encoder baseline
#: 4:2:0 JPEG and as its lossless PPM twin — the cross-format golden
#: fixture for the stdlib JPEG decoder.
import base64 as _b64

_PY_JPG = _b64.b64decode(
    "/9j/4AAQSkZJRgABAQEAAQABAAD/2wBDAAMCAgICAgMCAgIDAwMDBAYEBAQEBAgGBgUGCQgK"
    "CgkICQkKDA8MCgsOCwkJDRENDg8QEBEQCgwSExIQEw8QEBD/2wBDAQMDAwQDBAgEBAgQCwkL"
    "EBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAAR"
    "CAAQABADASIAAhEBAxEB/8QAFgABAQEAAAAAAAAAAAAAAAAABwQF/8QAJBAAAQQBBAICAwAA"
    "AAAAAAAAAQIDBAYFBwgSExEiABQJMTL/xAAVAQEBAAAAAAAAAAAAAAAAAAAABv/EACMRAAEC"
    "BQMFAAAAAAAAAAAAAAECEQMEBQYhABIxFRZhgeH/2gAMAwEAAhEDEQA/ABSm0mobc8HmExLU"
    "lRzzEWPkJWW+ulrsaUVAseUgslSlH9LKuPryIKuWPZdskzXmm3fX5m2nF4GlVxx/HOpx4ks5"
    "1+MiU/Iaad7UcUo4tILoS4kqcWkezS0hO/HvuRp0rO6hWnWO1UisZVuFi4GFeyEpmGepa5S5"
    "SWVPuciFKRFLgSrwetnyPIB+Vb4N9mKhQMzo5po9XLdDs9d6ZVix2VEhiL9kuNPxw2gEKcDQ"
    "/rs8AuA8VAe0vdl7VOYn+27flGAUgmITjbhSmCg3BYlyeWDkMolvw4KOp1KM6iCNvngZHwet"
    "f//Z"
)
_PY_PPM = _b64.b64decode(
    "UDYKMTYgMTYKMjU1CgAAAAAAAAAAAAAAAE6NwEqGukiDtER+rUB4pzxxnjdolgAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAEyKvP///0V/r0F5qD50ojpvmzZplAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAEmFt0aAsUJ7qj51oztwnTdqljZplAAAAAAAAAAAAAAAAAAAAAAAAE6P"
    "xEyKv0iFtkN9rT10oTlsljZmkDhslzZplDZplAAAAAAAAAAAAAAAAAAAAFKRxk+NwUuIu0iD"
    "tER9rUB4pj1zoDltmTZplDZplDZplAAAAP/iVf3dSvnVPgAAAFCPw0yJvEiEtUV/r0F5qD10"
    "oTpvmzZplDZplDZplDJghwAAAP/eS//aQf3VNgAAAE2LvkmFt0aAsEJ7qj51oztwnDdqljZp"
    "lDVokjJghwAAAOzORf/aQv/WN//TLQAAAEqHuUeBskN8qz92pTZpkxsxRQAAAAAAAAAAAAAA"
    "AOLDRf3ZQf/XOP/TLf/PIwAAAEaBskR9rUB4pjZnkQAAAPLhbv3pav/mYf/jV//fTf/bQv/X"
    "OP/TLv/PJP3LGwAAAEN9rkF5qD10oRwyS/Xjb//rbP/nYf/jV//fTf/bQ//XOf/TLv/PJP/M"
    "HPPBGgAAAEB1oz1zojpwnAAAAP/rbP/nYv/jWP/fTv/bQ//XOf/TL//PJP/MHP/MHMKaEgAA"
    "AAAAAAAAAAAAAAAAAP/nYv/jWP/fTujHPevFNOvCKuu+Ieu7GOu7GMabEgAAAAAAAAAAAAAA"
    "AAAAAAAAAP/jWP/fTv/bRP/XOv/TMP/QJf/MHAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AP3eTv/bRP/YOv/UMP/QJv////3LGwAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAPHQP/rT"
    "Of3SL//QJv/MHPrHGcCXEgAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="
)


def test_decode_jpeg_fixture_vs_lossless_twin():
    """Real-encoder golden test: CPython's 16x16 python.jpg (baseline,
    4:2:0 chroma) decoded by the stdlib decoder must agree with its
    lossless PPM twin within JPEG's own quantization loss — exact
    dimensions, small mean absolute pixel error (edges + chroma
    subsampling produce local outliers; the MEAN is the stable
    property of a correct decode, a broken IDCT/Huffman path lands
    orders of magnitude off)."""
    w, h, jpx = mm.decode_image(_PY_JPG)
    w2, h2, ppx = mm.decode_image(_PY_PPM)
    assert (w, h) == (w2, h2) == (16, 16)
    diffs = [abs(a - b) for p, q in zip(jpx, ppx) for a, b in zip(p, q)]
    mean = sum(diffs) / len(diffs)
    assert mean < 12.0, mean


def test_decode_real_jpeg_feature_parity_with_ppm():
    """decode_real on the JPEG fixture vs its lossless twin: dims and
    pixel count exact; mean channels within the lossy tolerance."""
    fj = mm.decode_real(_PY_JPG, "image/jpeg")
    fp = mm.decode_real(_PY_PPM, "image/x-portable-pixmap")
    assert fj[:3] == fp[:3] == [16.0, 16.0, 256.0]
    for a, b in zip(fj[3:6], fp[3:6]):
        assert abs(a - b) <= 12.0, (fj, fp)


def test_decode_features_routes_jpeg(spark):
    """The mapInPandas router: baseline JPEG -> 'jpeg-pixel' real
    decode; an UNDECODABLE JPEG payload (here a truncated progressive
    stream — SOF2 header, zero scans) raises NotImplementedError.
    (Valid progressive streams decode for real since r17 — see
    test_decode_features_routes_progressive_jpeg.)"""
    import struct

    progressive = (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    rows = {
        r["doc_id"]: r
        for r in mm.decode_features(_one(spark, _PY_JPG, "image/jpeg")).collect()
    }
    assert rows[1]["decoder"] == "jpeg-pixel"
    assert rows[1]["feature"][0] == 16.0 and rows[1]["feature"][1] == 16.0
    _raises_not_implemented(mm.decode_features(_one(spark, progressive, "image/jpeg")))


def test_decode_jpeg_corrupt_payloads_fall_back(spark):
    """Malformed JPEG-magic payloads (truncated after SOI, truncated
    DQT, missing Huffman tables) must normalize to ValueError inside
    the decoder — review finding: the parser's raw struct.error /
    IndexError / KeyError would otherwise escape the router's
    `except ValueError` — so the router raises its NotImplementedError
    for each of them."""
    import struct

    corrupt = [
        b"\xff\xd8\xff\xe0",                      # truncated after APP0 marker
        b"\xff\xd8\xff\xdb\x00\x43\x00" + b"\x01" * 10,  # truncated DQT
        # SOF+SOS but no DHT/DQT -> table lookups would KeyError
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0, 0, 63, 0])
        + b"\x00\x00",
    ]
    for payload in corrupt:
        with pytest.raises(ValueError):
            mm.decode_image(payload)
    for payload in corrupt:
        _raises_not_implemented(mm.decode_features(_one(spark, payload, "image/jpeg")))


@pytest.mark.parametrize(
    "enc",
    [
        _ppm_p6,
        _ppm_p3,
        _bmp24,

        lambda w, h, px: _bmp24(w, h, px, top_down=True),
        lambda w, h, px: _png(w, h, px),
        lambda w, h, px: _png(w, h, px, color_type=6),
        lambda w, h, px: _png(w, h, px, filters=[1, 2]),
        lambda w, h, px: _png(w, h, px, filters=[3, 4]),
        lambda w, h, px: _png(w, h, px, color_type=6, filters=[4, 3]),
    ],
    ids=[
        "ppm_p6", "ppm_p3", "bmp_bottom_up", "bmp_top_down",
        "png_rgb", "png_rgba", "png_sub_up", "png_avg_paeth",
        "png_rgba_paeth_avg",
    ],
)
def test_decode_image_golden_pixels(enc):
    w, h = 3, 2  # width 3 forces BMP row padding (9 -> 12 bytes)
    got_w, got_h, got_px = mm.decode_image(enc(w, h, GOLD_PX))
    assert (got_w, got_h) == (w, h)
    assert got_px == GOLD_PX


def test_decode_real_feature_vector():
    feats = mm.decode_real(_ppm_p6(3, 2, GOLD_PX), "image/x-portable-pixmap")
    lumas = [(299 * r + 587 * g + 114 * b) // 1000 for r, g, b in GOLD_PX]
    assert feats == [
        3.0, 2.0, 6.0,
        sum(p[0] for p in GOLD_PX) / 6,
        sum(p[1] for p in GOLD_PX) / 6,
        sum(p[2] for p in GOLD_PX) / 6,
        float(min(lumas)), float(max(lumas)),
    ]
    # a REAL PNG of the same image decodes to identical features
    assert mm.decode_real(_png(3, 2, GOLD_PX), "image/png") == feats
    # a payload with no supported magic still hits the integration point
    with pytest.raises(NotImplementedError):
        mm.decode_real(b"RIFF....WAVE", "audio/wav")


def test_decode_features_routes_real_and_fake(spark):
    """End-to-end mapInPandas run: PPM/BMP/PNG payloads take the REAL
    pixel branch in one batch; a text payload raises."""
    rows = [
        (1, _ppm_p6(3, 2, GOLD_PX), "image/x-portable-pixmap"),
        (2, _bmp24(3, 2, GOLD_PX), "image/bmp"),
        (4, _png(3, 2, GOLD_PX, color_type=6, filters=[1, 4]), "image/png"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    )
    got = {r["doc_id"]: r for r in mm.decode_features(media).collect()}
    assert got[1]["decoder"] == "ppm-bmp-pixel"
    assert got[2]["decoder"] == "ppm-bmp-pixel"
    assert got[4]["decoder"] == "png-pixel"
    # PPM, BMP and PNG encode the same image -> identical pixel features
    assert got[1]["feature"] == got[2]["feature"] == got[4]["feature"]
    assert got[1]["feature"][:3] == [3.0, 2.0, 6.0]
    assert got[1]["n_bytes"] == len(rows[0][1])
    _raises_not_implemented(
        mm.decode_features(_one(spark, b"just some text", "text/plain"))
    )


def test_multimodal_features_oracle_adversarial_payloads(spark, tmp_path):
    """ADVICE r5: the multimodal_features driver row must survive (a) an
    EMPTY text payload (the oracle previously errored on
    ('0x' || substr('',1,2))::INT) and (b) a text that STARTS with
    image magic bytes ('P6', 'P3', 'BM', PNG) — which previously routed
    the Spark side into the pixel decoder while the oracle assumed
    fake-moments.  Runs the REGISTERED query fn and its REGISTERED
    oracle SQL on a crafted documents table and compares like the
    driver does."""
    import duckdb

    from bigdata_20251_steam_spark.plans.registry import QUERIES
    from tests.oracle_harness import compare

    rows = [
        (1, "en", "web", ""),                      # empty payload
        (2, "en", "web", "   "),                   # whitespace-only
        (3, "en", "web", "P6 looks like a ppm header but is text"),
        (4, "en", "web", "BM fake bitmap prose"),
        (5, "en", "web", "\x89PNG\r\n\x1a\nnot actually a png"),
        (6, "en", "web", "plain ordinary document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    q = QUERIES["multimodal_features"]
    got = q.fn(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    exp = con.execute(q.oracle).fetchdf()
    compare(got, exp, "multimodal_features/adversarial")


# ---------------------------------------------------------------------------
# Real WAV/PCM audio decode (r9 verdict #4)
# ---------------------------------------------------------------------------


def _wav_pcm(samples, n_ch=1, rate=8000, bits=16, fmt_code=1):
    """Hand-rolled RIFF/WAVE encoder (independent of the decoder)."""
    import struct

    width = bits // 8
    if fmt_code == 3:
        data = struct.pack("<%d%s" % (len(samples), "f" if bits == 32 else "d"), *samples)
    elif bits == 8:
        data = bytes((s + 128) & 0xFF for s in samples)
    elif bits == 24:
        data = b"".join(int(s).to_bytes(3, "little", signed=True) for s in samples)
    else:
        data = struct.pack("<%d%s" % (len(samples), "h" if bits == 16 else "i"), *samples)
    fmt = struct.pack(
        "<HHIIHH", fmt_code, n_ch, rate, rate * n_ch * width, n_ch * width, bits
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data + (b"\0" if len(data) & 1 else b"")
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_golden_hand_computed():
    """Exact features for explicitly chosen 16-bit samples."""
    import math

    samples = [0, 1000, -1000, 32767, -32768, 500]
    feats = mm.decode_wav(_wav_pcm(samples, n_ch=2, rate=44100))
    n = len(samples)
    assert feats == [
        3.0,  # n_frames = 6 samples / 2 channels
        2.0,
        44100.0,
        3.0 / 44100.0,
        sum(samples) / n,
        math.sqrt(sum(s * s for s in samples) / n),
        -32768.0,
        32767.0,
    ]


@pytest.mark.parametrize("bits,fmt_code", [(8, 1), (24, 1), (32, 1), (32, 3)])
def test_decode_wav_sample_widths(bits, fmt_code):
    """Every supported width decodes the same logical signal."""
    vals = [0, 100, -100, 127, -128]
    raw = [float(v) for v in vals] if fmt_code == 3 else vals
    feats = mm.decode_wav(_wav_pcm(raw, n_ch=1, rate=16000, bits=bits, fmt_code=fmt_code))
    assert feats[0] == 5.0 and feats[1] == 1.0 and feats[2] == 16000.0
    assert feats[6] == -128.0 and feats[7] == 127.0


def test_decode_wav_sine_rms():
    """stdlib `wave`-written sine fixture: RMS ~ A/sqrt(2), duration exact.

    The encoder here is Python's own wave module — a fully independent
    writer — so this is a real-encoder round-trip like the JPEG 4:2:0
    fixture test."""
    import io
    import math
    import struct
    import wave

    rate, n, amp = 8000, 8000, 10000  # 1.0 s, 1 kHz sine
    pcm = [int(round(amp * math.sin(2 * math.pi * 1000 * i / rate))) for i in range(n)]
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(rate)
    w.writeframes(struct.pack("<%dh" % n, *pcm))
    w.close()
    feats = mm.decode_wav(buf.getvalue())
    assert feats[:4] == [float(n), 1.0, float(rate), 1.0]
    expect_rms = math.sqrt(sum(s * s for s in pcm) / n)
    assert feats[5] == expect_rms  # decoder recomputes the exact same sum
    assert abs(feats[5] - amp / math.sqrt(2)) / (amp / math.sqrt(2)) < 0.01


def test_decode_wav_rejects_non_pcm():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="format code 85"):
        mm.decode_wav(_wav_pcm([0, 1, 2], fmt_code=85))  # MP3-in-RIFF
    # decode_real surfaces the same payload as the codec integration point
    with _pytest.raises(NotImplementedError, match="WAV payload"):
        mm.decode_real(_wav_pcm([0, 1, 2], fmt_code=85), "audio/wav")


def test_decode_features_routes_wav_and_contract(spark):
    """Router provenance contract: real WAV -> 'wav-pcm'; payloads that
    LOOK like a supported format but aren't decodable (non-PCM WAV,
    progressive-marker JPEG) raise NotImplementedError — never
    features a pipeline could mistake for decoded ones."""
    wav = _wav_pcm([0, 1000, -1000, 32767, -32768, 500], n_ch=2, rate=44100)
    bad_wav = _wav_pcm([0, 1, 2], fmt_code=2)  # ADPCM-coded
    # SOI + SOF2 (progressive) marker; pixel decoder must raise ValueError
    prog_jpeg = b"\xff\xd8\xff\xc2" + b"\x00\x0b" + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00" + b"\xff\xd9"
    rows = [
        (1, wav, "audio/wav"),
        (2, bad_wav, "audio/wav"),
        (3, prog_jpeg, "image/jpeg"),
    ]
    media = spark.createDataFrame(rows[:1], "doc_id long, payload binary, media_type string")
    got = {r["doc_id"]: r for r in mm.decode_features(media).collect()}
    assert got[1]["decoder"] == "wav-pcm"
    assert got[1]["feature"][:3] == [3.0, 2.0, 44100.0]
    # the undecodable-but-recognized payloads must raise, never
    # silently emit stand-in features
    with pytest.raises(Exception, match="NotImplementedError|heavyweight"):
        mm.decode_features(
            spark.createDataFrame(rows[1:2], "doc_id long, payload binary, media_type string"),
        ).collect()
    _raises_not_implemented(mm.decode_features(_one(spark, prog_jpeg, "image/jpeg")))


def _mp4_fixture(ts=600, dur=3000, mvhd_ver=0, tkhd_ver=0, tracks=(("vide", 640, 360), ("soun", 0, 0)), large_moov=False, size0_moov=False):
    import struct as _s

    def box(t, body):
        return _s.pack(">I", 8 + len(body)) + t + body

    def full(t, ver, body):
        return box(t, bytes([ver, 0, 0, 0]) + body)

    if mvhd_ver == 1:
        mvhd = full(b"mvhd", 1, _s.pack(">QQIQ", 0, 0, ts, dur) + b"\0" * 80)
    else:
        mvhd = full(b"mvhd", 0, _s.pack(">IIII", 0, 0, ts, dur) + b"\0" * 80)
    body = mvhd
    for handler, w, h in tracks:
        if tkhd_ver == 1:
            pre = _s.pack(">QQII", 0, 0, 1, 0) + _s.pack(">Q", 0)
        else:
            pre = _s.pack(">IIIII", 0, 0, 1, 0, 0)
        tkhd = full(
            b"tkhd", tkhd_ver,
            pre + b"\0" * 16 + b"\0" * 36 + _s.pack(">II", w << 16, h << 16),
        )
        hdlr = full(b"hdlr", 0, _s.pack(">I", 0) + handler.encode() + b"\0" * 13)
        body += box(b"trak", tkhd + box(b"mdia", hdlr))
    ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 512) + b"isomiso2mp41")
    if large_moov:
        moov = _s.pack(">I", 1) + b"moov" + _s.pack(">Q", 16 + len(body)) + body
    elif size0_moov:
        moov = _s.pack(">I", 0) + b"moov" + body
    else:
        moov = box(b"moov", body)
    return ftyp + moov


def test_mp4_parser_golden():
    """Hand-built ISO BMFF trees parse to hand-computed features:
    version-0 and version-1 mvhd/tkhd (32- vs 64-bit times), 16.16
    fixed-point dimensions, handler-type track split, 64-bit
    largesize and size-0 (to-EOF) moov boxes."""
    assert mm.parse_mp4(_mp4_fixture()) == [
        5.0, 600.0, 3000.0, 2.0, 1.0, 1.0, 640.0, 360.0,
    ]
    assert mm.parse_mp4(
        _mp4_fixture(ts=1000, dur=123456, mvhd_ver=1, tkhd_ver=1,
                     tracks=(("vide", 1920, 1080),))
    ) == [123.456, 1000.0, 123456.0, 1.0, 1.0, 0.0, 1920.0, 1080.0]
    assert mm.parse_mp4(_mp4_fixture(dur=300, large_moov=True))[0] == 0.5
    assert mm.parse_mp4(
        _mp4_fixture(dur=1200, tracks=(("soun", 0, 0),), size0_moov=True)
    ) == [2.0, 600.0, 1200.0, 1.0, 0.0, 1.0, 0.0, 0.0]
    # malformed trees raise (NotImplementedError from the router)
    for bad in (b"", b"x" * 16, _mp4_fixture()[:40]):
        with pytest.raises(ValueError):
            mm.parse_mp4(bad)


def test_mp4_routing_contract(spark):
    """decode_features routes ftyp payloads to 'mp4-meta'; a truncated
    container raises instead of emitting stand-in features — the
    decoder-provenance consumer contract."""
    good = _mp4_fixture()
    truncated = good[: len(good) - 30]
    rows = [(1, good, "video/mp4"), (2, truncated, "video/mp4")]
    media = spark.createDataFrame(
        rows[:1], "doc_id long, payload binary, media_type string"
    )
    got = {r["doc_id"]: r for r in mm.decode_features(media).collect()}
    assert got[1]["decoder"] == "mp4-meta"
    assert got[1]["feature"] == [
        5.0, 600.0, 3000.0, 2.0, 1.0, 1.0, 640.0, 360.0,
    ]
    with pytest.raises(Exception, match="NotImplementedError|heavyweight|BMFF"):
        mm.decode_features(
            spark.createDataFrame(
                rows[1:2], "doc_id long, payload binary, media_type string"
            ),
        ).collect()
    # decode_real surfaces the same integration-point contract
    assert mm.decode_real(good, "video/mp4")[2] == 3000.0
    with pytest.raises(NotImplementedError):
        mm.decode_real(truncated, "video/mp4")


# ---------------------------------------------------------------------------
# Adversarial-bytes fuzz: the stdlib binary parsers must treat a
# 100 TB corpus's payload column as UNTRUSTED — every malformed input
# raises ValueError (NotImplementedError from the router), never struct.error /
# IndexError / a hang.  r10 covered WAV/MP4; r11 extends the same
# contract to the image decoders (PNG/baseline-JPEG), which caught
# three live leaks: zlib.error on corrupt deflate, OverflowError on a
# ~2^32-dim IHDR, ZeroDivisionError on all-zero SOF sampling factors
# (plus the declared-MCU-grid work-amplification hang, capped).
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover - hypothesis is baked into CI env
    _HAVE_HYP = False


def _check_parser_contract(fn, payload):
    try:
        out = fn(payload)
    except ValueError:
        return
    assert isinstance(out, list) and len(out) == 8
    assert all(isinstance(v, float) for v in out)


if _HAVE_HYP:

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=512))
    def test_mp4_parser_fuzz_arbitrary(data):
        _check_parser_contract(mm.parse_mp4, data)

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=60),
    )
    def test_mp4_parser_fuzz_mutated(pos, byte, cut):
        """Byte flips and truncations of a VALID container — the
        adversarial inputs that pass the magic check and exercise the
        box walker's bounds guards."""
        good = bytearray(_mp4_fixture())
        pos %= len(good)
        good[pos] = byte
        payload = bytes(good)[: len(good) - cut]
        _check_parser_contract(mm.parse_mp4, payload)

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=512))
    def test_wav_decoder_fuzz_arbitrary(data):
        _check_parser_contract(mm.decode_wav, data)

    #: adversarial u32/u16 values for field-targeted fuzz: zero, tiny,
    #: off-by-one around the parsers' caps, and the 16/24/31/32-bit
    #: boundaries a crafted header uses for allocation/overflow bombs
    _EVIL_U32 = [
        0, 1, 2, 7, 255, 65_535, 65_536, 16_777_215, 1_048_575,
        1_048_576, 1_048_577, 2**31 - 1, 2**31, 2**32 - 1,
    ]

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=3),   # which header field
        st.sampled_from(_EVIL_U32),
        st.booleans(),                           # also truncate the tail?
    )
    def test_wav_decoder_fuzz_header_fields(field, val, cut):
        """Field-targeted WAV fuzz (r12, verdict #8 parity with the
        image decoders): overwrite exactly the fields a crafted header
        abuses — fmt chunk size, channel count, bit width, data chunk
        size — with boundary values.  Contract: ValueError or a valid
        8-float vector, never struct.error/MemoryError/a hang."""
        import struct as _s

        samples = [0, 1000, -1000, 32767, -32768, 7]
        data = _s.pack("<6h", *samples)
        fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (
            b"WAVEfmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data
        )
        wav = bytearray(b"RIFF" + _s.pack("<I", len(body)) + body)
        # layout: RIFF@0, riff-size@4, WAVE@8, "fmt "@12, fmt-size@16,
        # fmt body@20 (code u16@20, n_ch u16@22, rate u32@24, ...,
        # bits u16@34), "data"@36, data-size@40, samples@44
        if field == 0:
            _s.pack_into("<I", wav, 16, val)  # fmt chunk size
        elif field == 1:
            _s.pack_into("<H", wav, 22, val & 0xFFFF)  # n_channels
        elif field == 2:
            _s.pack_into("<H", wav, 34, val & 0xFFFF)  # bits
        else:
            _s.pack_into("<I", wav, 40, val)  # data chunk size
        payload = bytes(wav)[: len(wav) - (7 if cut else 0)]
        _check_parser_contract(mm.decode_wav, payload)

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=40),
    )
    def test_wav_decoder_fuzz_mutated(pos, byte, cut):
        import struct as _s

        samples = [0, 1000, -1000, 32767, -32768, 7]
        data = _s.pack("<6h", *samples)
        fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (
            b"WAVEfmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data
        )
        wav = bytearray(b"RIFF" + _s.pack("<I", len(body)) + body)
        pos %= len(wav)
        wav[pos] = byte
        payload = bytes(wav)[: len(wav) - cut]
        _check_parser_contract(mm.decode_wav, payload)


def _check_image_contract(payload):
    """The image-decoder fuzz contract (r11, extending the r10 WAV/MP4
    one): ValueError (-> the router's NotImplementedError) or a well-formed
    (w, h, px) decode — never zlib.error / struct.error / IndexError /
    ZeroDivisionError / a hang."""
    try:
        w, h, px = mm.decode_image(payload)
    except ValueError:
        return
    assert isinstance(w, int) and isinstance(h, int)
    assert w > 0 and h > 0
    assert len(px) == w * h
    assert all(len(p) == 3 for p in px[:4])


if _HAVE_HYP:

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=512))
    def test_image_decoder_fuzz_arbitrary(data):
        _check_image_contract(data)

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=512))
    def test_png_decoder_fuzz_magic_prefixed(data):
        """Arbitrary bytes BEHIND the PNG magic — forces the chunk
        walker / inflate / filter paths rather than the magic check."""
        _check_image_contract(b"\x89PNG\r\n\x1a\n" + data)

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=60),
    )
    def test_png_decoder_fuzz_mutated(pos, byte, cut):
        """Byte flips and truncations of a VALID PNG — inputs that
        pass the magic check and exercise IHDR validation, the zlib
        stream, scanline-filter bounds and the length reconciliation."""
        px = [
            (r * 16 % 256, (r * 7 + c * 13) % 256, c * 31 % 256)
            for r in range(6)
            for c in range(5)
        ]
        good = bytearray(_png(5, 6, px, filters=[0, 1, 2, 3, 4, 1]))
        pos %= len(good)
        good[pos] = byte
        _check_image_contract(bytes(good)[: len(good) - cut])

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=512))
    def test_jpeg_decoder_fuzz_magic_prefixed(data):
        """Arbitrary bytes behind the JPEG SOI — forces the marker
        walker / Huffman / IDCT paths."""
        _check_image_contract(b"\xff\xd8\xff" + data)

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=60),
    )
    def test_jpeg_decoder_fuzz_mutated(pos, byte, cut):
        """Byte flips and truncations of a VALID baseline JPEG —
        inputs that pass the magic check and exercise segment lengths,
        Huffman tables, the entropy stream and dimension handling."""
        good = bytearray(_jpeg_baseline([[40], [12], [-7]], 8, 8,
                                        n_comp=3))
        pos %= len(good)
        good[pos] = byte
        _check_image_contract(bytes(good)[: len(good) - cut])


def test_image_decoder_declared_size_caps():
    """r11 fuzz hardening, pinned deterministically: (a) a JPEG
    declaring 60000x60000 from a ~300-byte payload must raise FAST —
    decode work scales with the DECLARED MCU grid, an amplification
    attack; (b) a PNG IHDR declaring ~2^31 x 2^31 overflowed zlib's
    ssize_t max_length (OverflowError leak) before the cap; (c) a
    zero sampling factor stays inside the ValueError contract."""
    import struct
    import time

    good = bytearray(_jpeg_baseline([[40], [12], [-7]], 8, 8, n_comp=3))
    i, sof = 2, None
    while i + 1 < len(good):
        if good[i] == 0xFF and good[i + 1] == 0xC0:
            sof = i
            break
        if good[i] == 0xFF and good[i + 1] not in (0xD8, 0x01) and not (
            0xD0 <= good[i + 1] <= 0xD9
        ):
            ln = struct.unpack_from(">H", good, i + 2)[0]
            i += 2 + ln
        else:
            i += 2
    assert sof is not None
    huge = bytearray(good)
    struct.pack_into(">HH", huge, sof + 5, 60000, 60000)
    t0 = time.time()
    with pytest.raises(ValueError, match="4M pixels"):
        mm.decode_image(bytes(huge))
    assert time.time() - t0 < 1.0  # must reject at SOF, not after MCUs
    zerosamp = bytearray(good)
    # all three components' h/v bytes -> 0: before the SOF validation
    # this reached the MCU-grid division as a ZeroDivisionError leak
    for off in (sof + 11, sof + 14, sof + 17):
        zerosamp[off] = 0x00
    with pytest.raises(ValueError, match="sampling factor"):
        mm.decode_image(bytes(zerosamp))

    p = bytearray(_png(2, 2, [(1, 2, 3)] * 4))
    struct.pack_into(">II", p, 16, 2**31 - 1, 2**31 - 1)
    with pytest.raises(ValueError, match="too large"):
        mm.decode_image(bytes(p))


# ---------------------------------------------------------------------------
# stbl sample tables (r11, verdict #7): per-sample timing/size/offset
# from real container data — the pre-codec frame index.
# ---------------------------------------------------------------------------


def _stbl_mp4(constant_size=False, co64=False, tail_chunk=False, pad=500):
    """Constructed ISO BMFF fixture: a first trak WITHOUT an stbl (must
    be skipped), then a complete one; stco chunk offsets deliberately
    NON-contiguous (gaps) so a parser faking offsets from cumulative
    sizes cannot pass."""
    import struct

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    def full(t, body):
        return box(t, b"\0\0\0\0" + body)

    hdlr_v = full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\0" * 12 + b"\0")
    trak_empty = box(b"trak", box(b"mdia", hdlr_v))
    if tail_chunk:
        # 7 samples, stsc [(1,3)]: chunks hold 3,3,1 — the final chunk
        # holds fewer than samples_per_chunk (count owned by stts)
        stts = full(b"stts", struct.pack(">I", 1) + struct.pack(">II", 7, 10))
        sizes = [4] * 7
        stsz = full(b"stsz", struct.pack(">II", 0, 7)
                    + struct.pack(">7I", *sizes))
        stsc = full(b"stsc", struct.pack(">I", 1)
                    + struct.pack(">III", 1, 3, 1))
        offs = [100, 200, 300]
        exp = [
            (i, 10 * i, 4, offs[i // 3] + 4 * (i % 3)) for i in range(7)
        ]
    else:
        stts = full(b"stts", struct.pack(">I", 2)
                    + struct.pack(">IIII", 3, 100, 2, 250))
        if constant_size:
            stsz = full(b"stsz", struct.pack(">II", 6, 5))
            sizes = [6] * 5
        else:
            sizes = [5, 6, 7, 8, 9]
            stsz = full(b"stsz", struct.pack(">II", 0, 5)
                        + struct.pack(">5I", *sizes))
        stsc = full(b"stsc", struct.pack(">I", 2)
                    + struct.pack(">III", 1, 2, 1)
                    + struct.pack(">III", 3, 1, 1))
        offs = [200, 300, 400]
        dts = [0, 100, 200, 300, 550]
        chunk_of = [0, 0, 1, 1, 2]
        pos, exp, prev_chunk = 0, [], -1
        for i in range(5):
            if chunk_of[i] != prev_chunk:
                pos = offs[chunk_of[i]]
                prev_chunk = chunk_of[i]
            exp.append((i, dts[i], sizes[i], pos))
            pos += sizes[i]
    if co64:
        cbox = full(b"co64", struct.pack(">I", len(offs))
                    + struct.pack(f">{len(offs)}Q", *offs))
    else:
        cbox = full(b"stco", struct.pack(">I", len(offs))
                    + struct.pack(f">{len(offs)}I", *offs))
    stbl = box(b"stbl", stts + stsc + stsz + cbox)
    mdia = box(b"mdia", hdlr_v + box(b"minf", stbl))
    moov = box(b"moov", trak_empty + box(b"trak", mdia))
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    payload = bytearray(ftyp + moov)
    # deterministic "mdat" bytes so frame slices are checkable
    payload.extend(bytes((i * 7 + 3) % 256 for i in range(pad - len(payload))))
    return bytes(payload), exp


def test_mp4_samples_golden():
    """parse_mp4_samples against hand-computed stts/stsz/stsc/stco
    derivations: multi-run stts, per-sample and constant stsz, a
    multi-run stsc, GAPPED stco (cumulative-size fakes fail), co64,
    the short tail chunk, and the skipped stbl-less track."""
    for kw in (
        {},
        {"constant_size": True},
        {"co64": True},
        {"tail_chunk": True},
    ):
        payload, exp = _stbl_mp4(**kw)
        assert mm.parse_mp4_samples(payload) == exp, kw
    # count disagreement between stts and stsz must raise
    bad, _ = _stbl_mp4()
    bad = bytearray(bad)
    i = bad.find(b"stsz")
    import struct

    struct.pack_into(">I", bad, i + 12, 4)  # claim 4 samples, stts says 5
    with pytest.raises(ValueError, match="disagree"):
        mm.parse_mp4_samples(bytes(bad))
    # a crafted 32-bit entry count must hit the loud cap, not allocate
    bomb = bytearray(_stbl_mp4()[0])
    i = bomb.find(b"stts")
    struct.pack_into(">I", bomb, i + 8, 2**31)
    with pytest.raises(ValueError):
        mm.parse_mp4_samples(bytes(bomb))


def test_mp4_samples_const_stsz_allocation_bomb():
    """r12 advice (medium): the CONSTANT-size stsz branch must check the
    untrusted u32 sample count BEFORE materializing `[const]*n` — a
    crafted count of 2^31 would otherwise allocate ~17 GB and die with
    MemoryError (bypassing the ValueError routing contract) before any
    later check ran.  Must raise ValueError promptly and cheaply."""
    import struct
    import time

    payload = bytearray(_stbl_mp4(constant_size=True)[0])
    i = payload.find(b"stsz")
    # constant-size form: u32 sample_size (nonzero), u32 sample_count
    struct.pack_into(">II", payload, i + 8, 6, 2**31)
    t0 = time.time()
    with pytest.raises(ValueError):
        mm.parse_mp4_samples(bytes(payload))
    assert time.time() - t0 < 1.0  # rejected at the header, not after alloc


def test_mp4_samples_offset_bounds():
    """r12 advice: a sample whose stco offset + stsz size extends past
    the payload end must raise (NotImplementedError from the router) instead of
    yielding sampler='mp4-stbl' rows whose frame slice is shorter than
    the reported size column."""
    import struct

    # (a) oversize one stsz entry far past the payload end
    payload = bytearray(_stbl_mp4()[0])
    i = payload.find(b"stsz")
    struct.pack_into(">I", payload, i + 16, 1_000_000)  # first sample size
    with pytest.raises(ValueError, match="past payload end"):
        mm.parse_mp4_samples(bytes(payload))
    # (b) point a chunk offset past the payload end
    payload2 = bytearray(_stbl_mp4()[0])
    j = payload2.find(b"stco")
    struct.pack_into(">I", payload2, j + 16, 100_000)  # second chunk offset
    with pytest.raises(ValueError, match="past payload end"):
        mm.parse_mp4_samples(bytes(payload2))
    # every row of a healthy parse satisfies size == len(payload slice)
    good, exp = _stbl_mp4()
    for si, dts, size, off in mm.parse_mp4_samples(good):
        assert off + size <= len(good)


def test_sample_frames_routes_stbl(spark):
    """The frame sampler's r11 routing: an ISO BMFF payload with a
    parsable stbl yields one row per SAMPLE carrying real container
    dts/size/offset and the payload slice at that offset (sampler
    'mp4-stbl'); a non-container payload and a malformed container
    raise NotImplementedError."""
    payload, exp = _stbl_mp4()
    rows = spark.createDataFrame(
        [(1, bytearray(payload), "video/mp4")],
        "doc_id long, payload binary, media_type string",
    )
    got = mm.sample_frames(rows).collect()
    mp4_rows = sorted(
        (r for r in got if r["doc_id"] == 1), key=lambda r: r["frame_idx"]
    )
    assert [
        (r["frame_idx"], r["dts"], r["size"], r["offset"]) for r in mp4_rows
    ] == exp
    assert all(r["sampler"] == "mp4-stbl" for r in mp4_rows)
    for r in mp4_rows:
        assert bytes(r["frame"]) == payload[r["offset"]: r["offset"] + r["size"]]
    _raises_not_implemented(
        mm.sample_frames(_one(spark, b"plain text bytes" * 20, "text/plain"))
    )
    # malformed container: loud
    broken = bytearray(payload)
    broken[12:16] = b"zzzz"  # clobber moov walk entry (ftyp still intact)
    i = bytes(broken).find(b"stts")
    broken[i:i + 4] = b"zzzz"
    rows2 = spark.createDataFrame(
        [(3, broken, "video/mp4")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="NotImplementedError|stbl"):
        mm.sample_frames(rows2).collect()


if _HAVE_HYP:

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=512))
    def test_mp4_samples_fuzz_arbitrary(data):
        try:
            out = mm.parse_mp4_samples(b"\x00\x00\x00\x14ftyp" + data)
        except ValueError:
            return
        assert all(
            len(t) == 4 and all(isinstance(v, int) for v in t) for t in out
        )

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=60),
    )
    def test_mp4_samples_fuzz_mutated(pos, byte, cut):
        good = bytearray(_stbl_mp4()[0])
        pos %= len(good)
        good[pos] = byte
        payload = bytes(good)[: len(good) - cut]
        try:
            out = mm.parse_mp4_samples(payload)
        except ValueError:
            return
        assert all(
            len(t) == 4 and all(isinstance(v, int) for v in t) for t in out
        )
        # r12 invariant: every emitted sample lies inside the payload,
        # so sample_frames' slice is exactly `size` bytes long
        assert all(off + size <= len(payload) for _, _, size, off in out)

    @settings(max_examples=250, deadline=None)
    @given(
        st.sampled_from([b"stts", b"stsz", b"stsc", b"stco"]),
        st.integers(min_value=0, max_value=7),   # which u32 slot
        st.sampled_from([
            0, 1, 2, 7, 255, 65_535, 65_536, 16_777_215, 1_048_575,
            1_048_576, 1_048_577, 2**31 - 1, 2**31, 2**32 - 1,
        ]),
    )
    def test_mp4_samples_fuzz_table_fields(table, slot, val):
        """Field-targeted stbl fuzz (r12, verdict #8): overwrite
        exactly the u32 count/delta/size/offset slots a crafted sample
        table abuses — entry counts at the caps' boundaries, 2^31-ish
        allocation bombs, zero/one degenerates — instead of random
        byte flips.  Contract: ValueError or a valid in-bounds sample
        list, never MemoryError / IndexError / a hang."""
        import struct as _s
        import time as _t

        good = bytearray(_stbl_mp4()[0])
        i = good.find(table)
        # u32 slots start after type(4) + version/flags(4)
        _s.pack_into(">I", good, i + 8 + 4 * slot, val)
        t0 = _t.time()
        try:
            out = mm.parse_mp4_samples(bytes(good))
        except ValueError:
            assert _t.time() - t0 < 2.0  # rejected promptly, no bomb
            return
        assert _t.time() - t0 < 2.0
        assert all(
            len(t) == 4 and all(isinstance(v, int) for v in t) for t in out
        )
        assert all(off + size <= len(good) for _, _, size, off in out)

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=15),  # which box in the walk
        st.sampled_from([
            0, 1, 7, 8, 9, 16, 255, 65_535, 2**24, 2**31 - 1, 2**31,
            2**32 - 1,
        ]),
    )
    def test_mp4_parser_fuzz_box_sizes(nth, val):
        """Box-size-targeted container fuzz (r12): overwrite the SIZE
        field of the nth box header in the fixture (the walker's
        primary attacker-controlled input — size=0 'to end', size=1
        largesize, truncated, overlapping).  Contract: ValueError or a
        valid 8-float vector from parse_mp4."""
        import struct as _s

        good = bytearray(_mp4_fixture())
        # locate box headers by walking with SANE sizes first
        offs, pos = [], 0
        while pos + 8 <= len(good) and len(offs) <= nth:
            (size,) = _s.unpack_from(">I", good, pos)
            offs.append(pos)
            if size < 8:
                break
            pos += size
        _s.pack_into(">I", good, offs[min(nth, len(offs) - 1)], val)
        _check_parser_contract(mm.parse_mp4, bytes(good))

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=60),
    )
    def test_mp4_samples_fuzz_mutated_const_stsz(pos, byte, cut):
        """r12 advice: same mutation fuzz but over the CONSTANT-size
        stsz fixture form, exercising the `[const]*n` branch's
        pre-allocation guards (the allocation-bomb fix)."""
        good = bytearray(_stbl_mp4(constant_size=True)[0])
        pos %= len(good)
        good[pos] = byte
        payload = bytes(good)[: len(good) - cut]
        try:
            out = mm.parse_mp4_samples(payload)
        except ValueError:
            return
        assert all(
            len(t) == 4 and all(isinstance(v, int) for v in t) for t in out
        )
        assert all(off + size <= len(payload) for _, _, size, off in out)


# ---------------------------------------------------------------------------
# Field-targeted image fuzz (r13, r12 verdict #8): overwrite exactly the
# header/marker fields a crafted payload abuses — PNG chunk lengths +
# IHDR slots, BMP header slots, JPEG marker segment lengths — with the
# boundary values of the WAV/MP4 treatment.  Random flips (above) cover
# breadth; targeted flips are the stronger contract because every
# example hits a validation branch.
# ---------------------------------------------------------------------------

if _HAVE_HYP:

    _EVIL_U32_IMG = [
        0, 1, 2, 7, 255, 65_535, 65_536, 16_777_215, 1_048_575,
        1_048_576, 1_048_577, 2**31 - 1, 2**31, 2**32 - 1,
    ]

    def _png_fixture_bytes():
        px = [
            (r * 16 % 256, (r * 7 + c * 13) % 256, c * 31 % 256)
            for r in range(6)
            for c in range(5)
        ]
        return bytearray(_png(5, 6, px, filters=[0, 1, 2, 3, 4, 1]))

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=8),   # which field
        st.sampled_from(_EVIL_U32_IMG),
        st.booleans(),                           # also truncate the tail?
    )
    def test_png_decoder_fuzz_chunk_fields(field, val, cut):
        """PNG chunk-level targets: IHDR/IDAT/IEND length fields, the
        IHDR width/height/bit-depth/color-type/interlace slots and the
        IHDR CRC.  Contract: ValueError or a valid decode — never
        zlib.error / struct.error / OverflowError / a hang."""
        import struct as _s

        png = _png_fixture_bytes()
        idat = bytes(png).index(b"IDAT")
        iend = bytes(png).index(b"IEND")
        # layout: magic@0..8; IHDR len@8, type@12, w@16, h@20, depth@24,
        # color@25, interlace@28, crc@29; IDAT len@idat-4; IEND len@iend-4
        if field == 0:
            _s.pack_into(">I", png, 8, val)          # IHDR length
        elif field == 1:
            _s.pack_into(">I", png, 16, val)         # width
        elif field == 2:
            _s.pack_into(">I", png, 20, val)         # height
        elif field == 3:
            png[24] = val & 0xFF                     # bit depth
        elif field == 4:
            png[25] = val & 0xFF                     # color type
        elif field == 5:
            png[28] = val & 0xFF                     # interlace
        elif field == 6:
            _s.pack_into(">I", png, 29, val)         # IHDR CRC
        elif field == 7:
            _s.pack_into(">I", png, idat - 4, val)   # IDAT length
        else:
            _s.pack_into(">I", png, iend - 4, val)   # IEND length
        _check_image_contract(bytes(png)[: len(png) - (7 if cut else 0)])

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=8),
        st.sampled_from(_EVIL_U32_IMG),
        st.booleans(),
    )
    def test_bmp_decoder_fuzz_header_fields(field, val, cut):
        """BMP header targets: file size, pixel-data offset, info-header
        size, width, height (incl. the negative top-down encoding),
        planes, bpp, compression, declared image size."""
        import struct as _s

        bmp = bytearray(_bmp24(3, 2, GOLD_PX))
        # BITMAPFILEHEADER: size u32@2, offset u32@10;
        # BITMAPINFOHEADER: hdrsize u32@14, width i32@18, height i32@22,
        # planes u16@26, bpp u16@28, compression u32@30, imgsize u32@34
        if field == 0:
            _s.pack_into("<I", bmp, 2, val)
        elif field == 1:
            _s.pack_into("<I", bmp, 10, val)
        elif field == 2:
            _s.pack_into("<I", bmp, 14, val)
        elif field == 3:
            _s.pack_into("<i", bmp, 18, val - 2**31)  # signed sweep
        elif field == 4:
            _s.pack_into("<i", bmp, 22, val - 2**31)
        elif field == 5:
            _s.pack_into("<H", bmp, 26, val & 0xFFFF)
        elif field == 6:
            _s.pack_into("<H", bmp, 28, val & 0xFFFF)
        elif field == 7:
            _s.pack_into("<I", bmp, 30, val)
        else:
            _s.pack_into("<I", bmp, 34, val)
        _check_image_contract(bytes(bmp)[: len(bmp) - (5 if cut else 0)])

    @settings(max_examples=250, deadline=None)
    @given(
        st.integers(min_value=0, max_value=15),  # which marker (mod count)
        st.sampled_from([0, 1, 2, 3, 7, 255, 4096, 65_534, 65_535]),
        st.booleans(),
    )
    def test_jpeg_decoder_fuzz_marker_lengths(which, val, cut):
        """JPEG marker-segment LENGTH fields: every non-RST/SOI/EOI
        marker's u16 length in a valid baseline JPEG gets boundary
        values — lengths shorter than the fixed header part, lengths
        running past EOF, and 0/1 (self-inconsistent).  The walker must
        reject or decode, never struct.error / IndexError / a hang."""
        import struct as _s

        good = bytearray(_jpeg_baseline([[40], [12], [-7]], 8, 8, n_comp=3))
        # collect the length-bearing marker offsets from the VALID file
        offs = []
        i = 2
        while i + 3 < len(good):
            if good[i] != 0xFF:
                break
            marker = good[i + 1]
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            offs.append(i + 2)
            ln = _s.unpack_from(">H", good, i + 2)[0]
            if marker == 0xDA:  # entropy stream follows SOS
                break
            i += 2 + ln
        assert offs
        _s.pack_into(">H", good, offs[which % len(offs)], val)
        _check_image_contract(bytes(good)[: len(good) - (9 if cut else 0)])


# ---------------------------------------------------------------------------
# Progressive JPEG (r17, r16 verdict #8)
# ---------------------------------------------------------------------------

_PZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21,
    28, 35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30,
    37, 44, 51, 58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61,
    54, 47, 55, 62, 63,
]


def _canon_generic_table():
    """Canonical Huffman table holding EVERY byte symbol (0..254 at
    length 9, 255 at length 10) — prefix-free and spec-valid, usable as
    both a DC and an AC table, so the test encoders never have to build
    per-fixture code sets.  Returns (symbol -> (length, code), DHT
    payload bytes)."""
    code = {}
    c = 0
    for ln in range(1, 17):
        if ln == 9:
            for sym in range(255):
                code[sym] = (ln, c)
                c += 1
        elif ln == 10:
            code[255] = (ln, c)
            c += 1
        c <<= 1
    counts = [0] * 16
    counts[8], counts[9] = 255, 1
    payload = bytes(counts) + bytes(range(255)) + bytes([255])
    return code, payload


class _PBits:
    """Bit writer with JPEG byte stuffing."""

    def __init__(self, table):
        self.bits: list[int] = []
        self.table = table

    def emit(self, val, ln):
        for k in range(ln - 1, -1, -1):
            self.bits.append((val >> k) & 1)

    def sym(self, s):
        ln, code = self.table[s]
        self.emit(code, ln)

    def payload(self) -> bytes:
        bits = self.bits[:]
        while len(bits) % 8:
            bits.append(1)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = int("".join(map(str, bits[i : i + 8])), 2)
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        return bytes(out)


def _extend_bits(w, v, s):
    w.emit(v if v > 0 else v + (1 << s) - 1, s)


def _enc_scan_dc_first(w, blocks, order, Al, preds):
    for ci, bi in order:
        v = blocks[ci][bi][0] >> Al
        diff = v - preds[ci]
        preds[ci] = v
        s = abs(diff).bit_length()
        w.sym(s)
        if s:
            _extend_bits(w, diff, s)


def _enc_scan_dc_refine(w, blocks, order, Al):
    for ci, bi in order:
        w.emit((blocks[ci][bi][0] >> Al) & 1, 1)


def _eob_flush(w, eobrun, pending=()):
    if eobrun:
        r = eobrun.bit_length() - 1
        w.sym(r << 4)
        if r:
            w.emit(eobrun - (1 << r), r)
    for bit in pending:
        w.emit(bit, 1)


def _enc_scan_ac_first(w, comp_blocks, Ss, Se, Al):
    eobrun = 0
    for blk in comp_blocks:
        band = []
        for k in range(Ss, Se + 1):
            v = blk[_PZZ[k]]
            # point transform toward zero; fixtures use values exactly
            # divisible by 1<<Al so first+refine reconstructs losslessly
            band.append(abs(v) >> Al if v >= 0 else -(abs(v) >> Al))
        if not any(band):
            eobrun += 1
            continue
        _eob_flush(w, eobrun)
        eobrun = 0
        r = 0
        trailing = True
        for idx, v in enumerate(band):
            if v == 0:
                r += 1
                continue
            while r > 15:
                w.sym(0xF0)
                r -= 16
            s = abs(v).bit_length()
            w.sym((r << 4) | s)
            _extend_bits(w, v, s)
            r = 0
            trailing = idx != len(band) - 1
        if trailing:
            eobrun = 1
    _eob_flush(w, eobrun)


def _enc_scan_ac_refine(w, comp_blocks, Ss, Se, Al):
    """Correction-bit encoder (T.81 G.1.2.3 / libjpeg
    encode_mcu_AC_refine).  Limitation by design: fixtures must not
    need ZRL in a refinement scan (no >15 zero-HISTORY run before a
    newly-significant coefficient) — asserted below."""
    eobrun = 0
    be: list[int] = []
    for blk in comp_blocks:
        band = []
        for k in range(Ss, Se + 1):
            v = blk[_PZZ[k]]
            band.append((abs(v) >> Al, v))
        last_new = -1
        for idx, (a, _v) in enumerate(band):
            if a == 1:
                last_new = idx
        r = 0
        br: list[int] = []
        for idx in range(last_new + 1):
            a, v = band[idx]
            if a == 0:
                r += 1
            elif a > 1:
                br.append(a & 1)
            else:
                _eob_flush(w, eobrun, be)
                eobrun = 0
                be = []
                assert r <= 15, "fixture needs ZRL-in-refinement"
                w.sym((r << 4) | 1)
                w.emit(1 if v > 0 else 0, 1)
                for bit in br:
                    w.emit(bit, 1)
                br = []
                r = 0
        tail = [a & 1 for (a, _v) in band[last_new + 1 :] if a > 1]
        if last_new != len(band) - 1:
            eobrun += 1
            be.extend(tail)
    _eob_flush(w, eobrun, be)


def _jpeg_progressive(blocks, w_px, h_px, script, n_comp=1):
    """Progressive JFIF encoder for single-MCU-per-block-grid fixtures
    (all sampling factors 1x1, dims multiples of 8): ``blocks`` maps
    component -> list of per-block 64-long QUANTIZED coefficient lists
    (natural order, flat q=16); ``script`` is the scan sequence,
    entries (comp_idx_or_None, Ss, Se, Ah, Al) with None = interleaved
    DC scan over all components."""
    import struct

    table, dht_payload = _canon_generic_table()
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([16] * 64)
    out += b"\xff\xc2" + struct.pack(
        ">HBHHB", 8 + 3 * n_comp, 8, h_px, w_px, n_comp
    )
    for c in range(n_comp):
        out += bytes([c + 1, 0x11, 0])
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + len(dht_payload))
    out += b"\x00" + dht_payload  # class 0 (DC), id 0
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + len(dht_payload))
    out += b"\x10" + dht_payload  # class 1 (AC), id 0
    preds = {c: 0 for c in range(n_comp)}
    n_blocks = len(blocks[0])
    for comp, Ss, Se, Ah, Al in script:
        w = _PBits(table)
        if Ss == 0:
            comps = list(range(n_comp)) if comp is None else [comp]
            out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
            for c in comps:
                out += bytes([c + 1, 0x00])
            out += bytes([0, 0, (Ah << 4) | Al])
            order = [(c, b) for b in range(n_blocks) for c in comps]
            if Ah == 0:
                if comp is None:
                    for c in comps:
                        preds[c] = 0
                _enc_scan_dc_first(w, blocks, order, Al, preds)
            else:
                _enc_scan_dc_refine(w, blocks, order, Al)
        else:
            out += b"\xff\xda" + struct.pack(">HB", 8, 1)
            out += bytes([comp + 1, 0x00, Ss, Se, (Ah << 4) | Al])
            if Ah == 0:
                _enc_scan_ac_first(w, blocks[comp], Ss, Se, Al)
            else:
                _enc_scan_ac_refine(w, blocks[comp], Ss, Se, Al)
        out += w.payload()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_sequential_full(blocks, w_px, h_px, n_comp=1):
    """Baseline encoder accepting FULL coefficient blocks (the DC-only
    ``_jpeg_baseline`` generalized) — the progressive fixtures' ground
    truth: same quantized coefficients, sequential scan order."""
    import struct

    table, dht_payload = _canon_generic_table()
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([16] * 64)
    out += b"\xff\xc0" + struct.pack(
        ">HBHHB", 8 + 3 * n_comp, 8, h_px, w_px, n_comp
    )
    for c in range(n_comp):
        out += bytes([c + 1, 0x11, 0])
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + len(dht_payload))
    out += b"\x00" + dht_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + len(dht_payload))
    out += b"\x10" + dht_payload
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * n_comp, n_comp)
    for c in range(n_comp):
        out += bytes([c + 1, 0x00])
    out += bytes([0, 63, 0])
    w = _PBits(table)
    preds = [0] * n_comp
    for bi in range(len(blocks[0])):
        for c in range(n_comp):
            blk = blocks[c][bi]
            diff = blk[0] - preds[c]
            preds[c] = blk[0]
            s = abs(diff).bit_length()
            w.sym(s)
            if s:
                _extend_bits(w, diff, s)
            k = 1
            r = 0
            while k < 64:
                v = blk[_PZZ[k]]
                if v == 0:
                    r += 1
                    k += 1
                    continue
                while r > 15:
                    w.sym(0xF0)
                    r -= 16
                s = abs(v).bit_length()
                w.sym((r << 4) | s)
                _extend_bits(w, v, s)
                r = 0
                k += 1
            if r:
                w.sym(0x00)  # EOB
    out += w.payload()
    out += b"\xff\xd9"
    return bytes(out)


def _gray_fixture_blocks():
    """Four 8x8 blocks with DC + scattered AC coefficients chosen to
    exercise: spectral bands, EOB runs spanning blocks, successive
    approximation (all values even, so Al=1 -> Al=0 is lossless),
    history-bit corrections AND newly-significant insertions in the
    refinement scan, and a >15-coefficient zero run inside a first
    scan (ZRL)."""
    b0 = [0] * 64
    b0[0] = 24          # DC
    b0[_PZZ[1]] = 12    # low band
    b0[_PZZ[3]] = -6
    b0[_PZZ[7]] = 2     # newly significant at Al=0 (|v|>>1 == 1)
    b0[_PZZ[40]] = 4    # high band after a long zero run (ZRL in first scan)
    b1 = [0] * 64
    b1[0] = -10
    b1[_PZZ[2]] = 2
    b2 = [0] * 64       # all-zero AC -> joins EOB runs
    b2[0] = 8
    b3 = [0] * 64
    b3[0] = 40
    b3[_PZZ[63]] = -2   # band-final coefficient
    return [b0, b1, b2, b3]


def test_decode_jpeg_progressive_equals_sequential_gray():
    """Grayscale spectral-selection + successive-approximation ladder:
    the SAME quantized coefficients encoded progressively (DC first at
    Al=1, low/high AC bands at Al=1, then DC + AC refinement scans at
    Al=0) must decode to pixels IDENTICAL to the sequential encoding —
    coefficient-space equality end-to-end."""
    blocks = [_gray_fixture_blocks()]
    script = [
        (None, 0, 0, 0, 1),   # DC first, Al=1
        (0, 1, 5, 0, 1),      # AC low band first
        (0, 6, 63, 0, 1),     # AC high band first (ZRL exercised)
        (None, 0, 0, 1, 0),   # DC refinement
        (0, 1, 5, 1, 0),      # AC low refinement (history + new)
        (0, 6, 63, 1, 0),     # AC high refinement
    ]
    prog = _jpeg_progressive(blocks, 16, 16, script)
    seq = _jpeg_sequential_full(blocks, 16, 16)
    wp, hp, pxp = mm.decode_image(prog)
    ws, hs, pxs = mm.decode_image(seq)
    assert (wp, hp) == (ws, hs) == (16, 16)
    assert pxp == pxs
    # the fixture actually renders something non-trivial
    assert len({p[0] for p in pxp}) > 4


def test_decode_jpeg_progressive_color_444():
    """3-component 4:4:4 progressive: interleaved DC scan + one AC
    scan per component (no successive approximation) decodes to the
    sequential encoding's exact pixels."""
    y = [0] * 64
    y[0], y[_PZZ[1]] = 16, 8
    cb = [0] * 64
    cb[0] = -8
    cr = [0] * 64
    cr[0], cr[_PZZ[2]] = 12, -4
    blocks = [[y], [cb], [cr]]
    script = [
        (None, 0, 0, 0, 0),
        (0, 1, 63, 0, 0),
        (1, 1, 63, 0, 0),
        (2, 1, 63, 0, 0),
    ]
    prog = _jpeg_progressive(blocks, 8, 8, script, n_comp=3)
    seq = _jpeg_sequential_full(blocks, 8, 8, n_comp=3)
    assert mm.decode_image(prog) == mm.decode_image(seq)


def test_decode_features_routes_progressive_jpeg(spark):
    """r17: a VALID progressive JPEG now decodes for real through the
    router — decoder column 'jpeg-pixel', identical features to the
    sequential encoding of the same coefficients (r16 verdict #8)."""
    blocks = [_gray_fixture_blocks()]
    prog = _jpeg_progressive(
        blocks, 16, 16,
        [(None, 0, 0, 0, 0), (0, 1, 63, 0, 0)],
    )
    seq = _jpeg_sequential_full(blocks, 16, 16)
    media = spark.createDataFrame(
        [(1, bytearray(prog), "image/jpeg"),
         (2, bytearray(seq), "image/jpeg")],
        "doc_id long, payload binary, media_type string",
    )
    rows = {
        r["doc_id"]: r
        for r in mm.decode_features(media).collect()
    }
    assert rows[1]["decoder"] == "jpeg-pixel"
    assert rows[2]["decoder"] == "jpeg-pixel"
    assert list(rows[1]["feature"]) == list(rows[2]["feature"])


# ---------------------------------------------------------------------------
# r17: compressed-audio tiers — G.711, IMA ADPCM, FLAC (r16 verdict
# "What's missing #4": these formats had no real decode before)
# ---------------------------------------------------------------------------


def _wav_raw(code, bits, data, n_ch=1, rate=8000, balign=1, extra=b""):
    """RIFF wrapper around pre-encoded codec bytes (independent of the
    decoder's own chunk walker)."""
    import struct

    fmt = struct.pack("<HHIIHH", code, n_ch, rate, rate * balign, balign, bits)
    fmt += extra
    body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    body += b"\0" if len(data) & 1 else b""
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_g711_matches_audioop():
    """The G.711 expansion is byte-for-byte CPython's audioop over the
    FULL 0..255 domain, for both laws — the strongest possible golden
    source (an independent C implementation of the same ITU tables)."""
    import struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")
    every = bytes(range(256))
    for code, conv, tag in (
        (7, audioop.ulaw2lin, "g711u"),
        (6, audioop.alaw2lin, "g711a"),
    ):
        ref = struct.unpack("<256h", conv(every, 2))
        feats, got_tag = mm.decode_wav_ex(_wav_raw(code, 8, every))
        assert got_tag == tag
        assert feats[0] == 256.0 and feats[2] == 8000.0
        assert feats[4] == sum(ref) / 256
        assert feats[6] == min(ref) and feats[7] == max(ref)


def test_decode_wav_ima_adpcm_golden():
    """Mono IMA ADPCM: the nibble recurrence matches audioop's DVI
    decoder, and a second block header RESETS predictor/index (the
    block-boundary contract a corrupt block relies on)."""
    import struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")
    import random

    rng = random.Random(17)
    nibs = [rng.randrange(16) for _ in range(16)]
    # audioop packs HIGH nibble first; WAV packs LOW nibble first
    audio_packed = bytes(
        (nibs[i] << 4) | nibs[i + 1] for i in range(0, 16, 2)
    )
    ref = list(struct.unpack("<16h", audioop.adpcm2lin(audio_packed, 2, None)[0]))
    wav_packed = bytes((nibs[i + 1] << 4) | nibs[i] for i in range(0, 16, 2))
    blk = struct.pack("<hBB", 0, 0, 0) + wav_packed
    feats, tag = mm.decode_wav_ex(
        _wav_raw(0x11, 4, blk, balign=len(blk), extra=struct.pack("<HH", 2, 17))
    )
    assert tag == "ima-adpcm"
    want = [0] + ref  # header predictor emits as the first sample
    assert feats[0] == 17.0
    assert feats[6] == float(min(want)) and feats[7] == float(max(want))
    assert feats[4] == sum(want) / len(want)
    # two blocks: the second header resets state to (pred=1000, idx=30)
    blk2 = struct.pack("<hBB", 1000, 30, 0) + wav_packed
    feats2, _ = mm.decode_wav_ex(
        _wav_raw(
            0x11, 4, blk + blk2, balign=len(blk),
            extra=struct.pack("<HH", 2, 17),
        )
    )
    assert feats2[0] == 34.0  # both blocks decoded
    # stereo ADPCM interleave is out of the stdlib tier -> loud fallback
    with pytest.raises(ValueError, match="multi-channel IMA ADPCM"):
        mm.decode_wav(_wav_raw(0x11, 4, blk, n_ch=2, balign=len(blk)))


def _flac_crc8(data):
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data):
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _FlacW:
    """MSB-first bit writer for the test encoder."""

    def __init__(self):
        self.buf, self.acc, self.nb = bytearray(), 0, 0

    def write(self, val, n):
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nb += n
        while self.nb >= 8:
            self.nb -= 8
            self.buf.append((self.acc >> self.nb) & 0xFF)
        self.acc &= (1 << self.nb) - 1

    def align(self):
        if self.nb:
            self.write(0, 8 - self.nb)

    def bytes(self):
        assert self.nb == 0
        return bytes(self.buf)


def _flac_rice(w, resid, po, bsize, order, method=0, escape_raw=None):
    w.write(method, 2)
    w.write(po, 4)
    pbits = 4 + method
    idx = 0
    for p in range(1 << po):
        n = (bsize >> po) - (order if p == 0 else 0)
        part = resid[idx : idx + n]
        idx += n
        if escape_raw is not None:
            w.write((1 << pbits) - 1, pbits)
            w.write(escape_raw, 5)
            for e in part:
                w.write(e, escape_raw)
            continue
        zig = [(e << 1) if e >= 0 else ((-e) << 1) - 1 for e in part]
        mx = max(zig, default=0)
        param = 0
        while (mx >> param) > 30 and param < (1 << pbits) - 2:
            param += 1
        w.write(param, pbits)
        for u in zig:
            for _ in range(u >> param):
                w.write(0, 1)
            w.write(1, 1)
            if param:
                w.write(u, param)


def _flac_subframe(w, s, bits, kind, po=0, method=0, escape_raw=None, wasted=0):
    w.write(0, 1)
    if wasted:
        s = [v >> wasted for v in s]
    eff = bits - wasted
    bsize = len(s)
    t = {"constant": 0, "verbatim": 1, "lpc1": 32}.get(kind)
    if t is None:
        t = 8 + int(kind[5:])
    w.write(t, 6)
    if wasted:
        w.write(1, 1)
        for _ in range(wasted - 1):
            w.write(0, 1)
        w.write(1, 1)
    else:
        w.write(0, 1)
    if kind == "constant":
        w.write(s[0], eff)
        return
    if kind == "verbatim":
        for v in s:
            w.write(v, eff)
        return
    if kind == "lpc1":
        w.write(s[0], eff)
        w.write(1, 4)  # precision 2
        w.write(0, 5)  # shift 0
        w.write(1, 2)  # qcoef [1]
        _flac_rice(
            w, [s[i] - s[i - 1] for i in range(1, bsize)],
            po, bsize, 1, method, escape_raw,
        )
        return
    order = int(kind[5:])
    for v in s[:order]:
        w.write(v, eff)
    coef = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}[order]
    resid = [
        s[i] - sum(c * s[i - 1 - j] for j, c in enumerate(coef))
        for i in range(order, bsize)
    ]
    _flac_rice(w, resid, po, bsize, order, method, escape_raw)


def _flac_encode(
    chans, sr=8000, bps=16, kind="fixed2", stereo=None,
    po=0, method=0, escape_raw=None, wasted=0,
):
    """Minimal independent FLAC encoder: one frame, 16-bit samples.

    Covers every decoder branch: CONSTANT/VERBATIM/FIXED0-4/LPC,
    partition orders, the 5-bit rice2 method, the raw-binary escape,
    wasted bits and the three stereo decorrelation modes."""
    n_ch, bsize = len(chans), len(chans[0])
    si = _FlacW()
    si.write(bsize, 16)
    si.write(bsize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sr, 20)
    si.write(n_ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(bsize, 36)
    body = si.bytes() + b"\x00" * 16
    out = bytearray(b"fLaC") + b"\x80" + len(body).to_bytes(3, "big") + body
    w = _FlacW()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)  # 16-bit blocksize field follows the header
    w.write(0, 4)  # sample rate from STREAMINFO
    assign = (
        0 if n_ch == 1
        else {None: 1, "left_side": 8, "right_side": 9, "mid_side": 10}[stereo]
    )
    w.write(assign, 4)
    w.write(4, 3)  # 16-bit samples
    w.write(0, 1)
    w.write(0, 8)  # frame number 0
    w.write(bsize - 1, 16)
    hdr = w.bytes()
    frame = bytearray(hdr + bytes([_flac_crc8(hdr)]))
    w3 = _FlacW()
    if assign in (0, 1):
        for c in chans:
            _flac_subframe(w3, c, bps, kind, po, method, escape_raw, wasted)
    else:
        left, right = chans
        side = [a - b for a, b in zip(left, right)]
        if assign == 8:
            _flac_subframe(w3, left, bps, kind, po, method, escape_raw)
            _flac_subframe(w3, side, bps + 1, kind, po, method, escape_raw)
        elif assign == 9:
            _flac_subframe(w3, side, bps + 1, kind, po, method, escape_raw)
            _flac_subframe(w3, right, bps, kind, po, method, escape_raw)
        else:
            mid = [(a + b) >> 1 for a, b in zip(left, right)]
            _flac_subframe(w3, mid, bps, kind, po, method, escape_raw)
            _flac_subframe(w3, side, bps + 1, kind, po, method, escape_raw)
    w3.align()
    frame += w3.bytes()
    crc = _flac_crc16(bytes(frame))
    return bytes(out + frame + bytes([crc >> 8, crc & 0xFF]))


def _audio_feats(chans, sr=8000):
    import math

    n = len(chans[0])
    inter = [chans[j][i] for i in range(n) for j in range(len(chans))]
    return [
        float(n), float(len(chans)), float(sr), n / sr,
        sum(inter) / len(inter),
        math.sqrt(sum(s * s for s in inter) / len(inter)),
        float(min(inter)), float(max(inter)),
    ]


_FLAC_MONO = [((i * 2654435761) % 40001) - 20000 for i in range(48)]
_FLAC_L = [((i * 40503) % 30001) - 15000 for i in range(32)]
_FLAC_R = [((i * 69069) % 30001) - 15000 for i in range(32)]


@pytest.mark.parametrize(
    "kw",
    [
        {"kind": "fixed0"}, {"kind": "fixed1"}, {"kind": "fixed2"},
        {"kind": "fixed3"}, {"kind": "fixed4"}, {"kind": "verbatim"},
        {"kind": "lpc1"}, {"po": 2}, {"method": 1},
        {"escape_raw": 18}, {"wasted": 2},
    ],
)
def test_decode_flac_mono_roundtrip(kw):
    """FLAC is lossless: every subframe/residual coding variant decodes
    back to the exact source samples (feature stats recomputed from the
    raw samples by an independent formula)."""
    src = (
        [v & ~3 for v in _FLAC_MONO] if kw.get("wasted") else _FLAC_MONO
    )
    got = mm.decode_flac(_flac_encode([src], **kw))
    want = _audio_feats([src])
    assert got == pytest.approx(want, abs=0, rel=0)


def test_decode_flac_constant_subframe():
    got = mm.decode_flac(_flac_encode([[777] * 48], kind="constant"))
    assert got == pytest.approx(_audio_feats([[777] * 48]))


@pytest.mark.parametrize("stereo", [None, "left_side", "right_side", "mid_side"])
def test_decode_flac_stereo_decorrelation(stereo):
    """All four channel assignments reconstruct the exact L/R signals
    (the side channel carries bps+1 bits)."""
    got = mm.decode_flac(_flac_encode([_FLAC_L, _FLAC_R], stereo=stereo))
    assert got == pytest.approx(_audio_feats([_FLAC_L, _FLAC_R]), abs=0, rel=0)


def test_decode_flac_rejects_corruption():
    """CRC-8, CRC-16, sync and truncation all fail loudly (ValueError),
    which the media router turns into NotImplementedError."""
    good = _flac_encode([_FLAC_MONO])
    cases = {
        "frame footer CRC-16": lambda p: p[:-1] + bytes([p[-1] ^ 0xFF]),
        "frame header CRC-8": lambda p: p[:44] + bytes([p[44] ^ 1]) + p[45:],
        "bad frame sync": lambda p: p[:42] + b"\x00" + p[43:],
        "truncated": lambda p: p[:60],
    }
    for what, mangle in cases.items():
        with pytest.raises(ValueError):
            mm.decode_flac(mangle(good))


def test_decode_features_routes_compressed_audio(spark):
    """The mapInPandas router: per-codec provenance for every audio
    tier (wav-pcm / wav-g711u / wav-g711a / wav-ima-adpcm / flac-pcm),
    and MP3-in-RIFF raises NotImplementedError."""
    import struct

    blk = struct.pack("<hBB", 0, 0, 0) + bytes(8)
    rows = [
        (1, bytearray(_wav_pcm([0, 100, -100])), "audio/wav"),
        (2, bytearray(_wav_raw(7, 8, bytes(range(64)))), "audio/wav"),
        (3, bytearray(_wav_raw(6, 8, bytes(range(64)))), "audio/wav"),
        (
            4,
            bytearray(
                _wav_raw(
                    0x11, 4, blk, balign=len(blk),
                    extra=struct.pack("<HH", 2, 17),
                )
            ),
            "audio/wav",
        ),
        (5, bytearray(_flac_encode([_FLAC_MONO])), "audio/flac"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    )
    got = {
        r["doc_id"]: r["decoder"]
        for r in mm.decode_features(media).collect()
    }
    assert got == {
        1: "wav-pcm",
        2: "wav-g711u",
        3: "wav-g711a",
        4: "wav-ima-adpcm",
        5: "flac-pcm",
    }
    _raises_not_implemented(
        mm.decode_features(_one(spark, _wav_raw(85, 16, bytes(16)), "audio/mpeg"))
    )


# ---------------------------------------------------------------------------
# r17: per-frame pixel decode (video half of r16 verdict "missing #4")
# ---------------------------------------------------------------------------


def _jpeg_dc(dc8):
    """Grayscale 8x8 DC-only baseline JPEG: every decoded pixel is
    exactly 128+dc8 (Q00=8, F00=8*dc8 -> flat IDCT block, no rounding
    ambiguity).  Independent of the decoder under test."""
    import struct

    q = bytes([8] + [1] * 63)
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + q
    sof = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 8, 8) + b"\x01" + b"\x01\x11\x00"
    )
    counts = [0] * 16
    counts[3] = 12  # DC cats 0..11, all 4-bit codes
    dht_dc = (
        b"\xff\xc4" + struct.pack(">H", 31) + b"\x00"
        + bytes(counts) + bytes(range(12))
    )
    counts2 = [0] * 16
    counts2[1] = 1  # AC: lone EOB symbol, 2-bit code
    dht_ac = (
        b"\xff\xc4" + struct.pack(">H", 20) + b"\x10"
        + bytes(counts2) + b"\x00"
    )
    sos = (
        b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + b"\x01\x00"
        + b"\x00\x3f\x00"
    )
    s = abs(dc8).bit_length()
    bits = [(s, 4)]
    if s:
        bits.append((dc8 if dc8 >= 0 else dc8 + (1 << s) - 1, s))
    bits.append((0, 2))
    acc, nb, out = 0, 0, bytearray()
    for v, n in bits:
        acc = (acc << n) | (v & ((1 << n) - 1))
        nb += n
        while nb >= 8:
            nb -= 8
            byte = (acc >> nb) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
    if nb:
        pad = 8 - nb
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    return b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + bytes(out) + b"\xff\xd9"


def _mp4_track(samples_bytes, timescale=1000, delta=100):
    """Single-track ISO BMFF container whose mdat holds the given
    sample payloads, with a full stts/stsc/stsz/stco set."""
    import struct

    def box(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mdat = box(b"mdat", b"".join(samples_bytes))
    base = len(ftyp) + 8
    n = len(samples_bytes)
    stts = box(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", n, delta))
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, n, 1))
    stsz = box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", len(j)) for j in samples_bytes),
    )
    stco = box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", base))
    stbl = box(b"stbl", stts + stsc + stsz + stco)
    hdlr = box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"mj\x00")
    mdia = box(b"mdia", hdlr + box(b"minf", stbl))
    tkhd = box(b"tkhd", bytes(80) + struct.pack(">II", 8 << 16, 8 << 16))
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(
        b"mvhd",
        bytes(4) + struct.pack(">IIII", 0, 0, timescale, n * delta) + bytes(80),
    )
    return ftyp + mdat + box(b"moov", mvhd + trak)


def test_decode_frame_features_mjpeg(spark):
    """MJPEG-flavored track: every stbl-sliced frame decodes FOR REAL
    through the stdlib JPEG tier — per-frame provenance mp4-stbl +
    jpeg-pixel, pixel stats exactly 128+dc8."""
    dcs = [-5, 100, 0, 127, -128]
    mp4 = _mp4_track([_jpeg_dc(d) for d in dcs])
    media = spark.createDataFrame(
        [(7, bytearray(mp4), "video/mp4")],
        "doc_id long, payload binary, media_type string",
    )
    rows = sorted(
        mm.decode_frame_features(media).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert len(rows) == len(dcs)
    for r, dc in zip(rows, dcs):
        assert r["sampler"] == "mp4-stbl" and r["decoder"] == "jpeg-pixel"
        assert r["dts"] == r["frame_idx"] * 100
        f = r["feature"]
        want = float(128 + dc)
        assert f[0] == 8.0 and f[1] == 8.0 and f[2] == 64.0
        assert f[3] == want and f[4] == want and f[5] == want
        assert f[6] == want and f[7] == want


def test_decode_frame_features_codec_packed_contract(spark):
    """Frames without per-sample magic raise NotImplementedError (the
    provenance contract applied per frame), as does a non-BMFF
    payload."""
    mp4 = _mp4_track([b"\x00\x00\x00\x01NAL0", b"\x00\x00\x00\x01NAL1"])
    media = spark.createDataFrame(
        [(1, bytearray(mp4), "video/mp4"), (2, bytearray(b"Z" * 300), "bin")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="codec-packed frame"):
        mm.decode_frame_features(
            media.filter(F.col("doc_id") == 1)
        ).collect()
    _raises_not_implemented(
        mm.decode_frame_features(media.filter(F.col("doc_id") == 2))
    )


def test_decode_frame_features_mixed_image_magics(spark):
    """A track mixing JPEG and BMP samples routes each frame by its
    own magic — per-frame, not per-payload, provenance."""
    jpeg = _jpeg_dc(10)
    bmp = _bmp24(2, 1, [GOLD_PX[0], GOLD_PX[1]])
    mp4 = _mp4_track([jpeg, bmp])
    media = spark.createDataFrame(
        [(3, bytearray(mp4), "video/mp4")],
        "doc_id long, payload binary, media_type string",
    )
    rows = sorted(
        mm.decode_frame_features(media).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["decoder"] for r in rows] == ["jpeg-pixel", "ppm-bmp-pixel"]
    assert rows[1]["feature"][2] == 2.0  # 2x1 BMP: n_pixels


# ---------------------------------------------------------------------------
# r17: GIF decode tier (LZW) — independent encoder fixtures
# ---------------------------------------------------------------------------


def _gif_encode(
    w, h, px, interlaced=False, use_89=True, with_ext=False,
    local_table=False,
):
    """Independent GIF encoder (not the decoder's code): palette from
    unique colors, clear-code-heavy LZW so the code width never grows
    — a valid stream per the spec's deferred-clear rules."""
    import struct

    pal, pidx = [], {}
    for p in px:
        if p not in pidx:
            pidx[p] = len(pal)
            pal.append(p)
    assert len(pal) <= 256
    min_code = max(2, (len(pal) - 1).bit_length())
    ncolors = 1 << min_code
    table = b"".join(bytes(p) for p in pal)
    table += b"\x00\x00\x00" * (ncolors - len(pal))
    out = bytearray(
        (b"GIF89a" if use_89 else b"GIF87a")
        + struct.pack("<HHBBB", w, h, 0x80 | ((min_code - 1) & 7), 0, 0)
        + table
    )
    if with_ext:
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE
        out += b"\x21\xfe\x05hello\x00"  # comment extension
    iflags = 0x40 if interlaced else 0
    if local_table:
        iflags |= 0x80 | ((min_code - 1) & 7)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    if local_table:
        out += table
    out.append(min_code)
    rows = [px[r * w : (r + 1) * w] for r in range(h)]
    if interlaced:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = [rows[r] for r in order]
    seq = [pidx[p] for row in rows for p in row]
    clear, end = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    codes, cnt = [clear], 0
    for s in seq:
        if cnt >= (1 << min_code) - 2:
            codes.append(clear)
            cnt = 0
        codes.append(s)
        cnt += 1
    codes.append(end)
    acc = nb = 0
    data = bytearray()
    for c in codes:
        acc |= c << nb
        nb += width
        while nb >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nb -= 8
    if nb:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"interlaced": True},
        {"use_89": False},
        {"with_ext": True},
        {"local_table": True},
    ],
)
def test_decode_gif_roundtrip(kw):
    """Every container variant (87a/89a, global/local table,
    extension blocks, interlace) decodes back to the exact pixels."""
    px = GOLD_PX * 4  # 24 px, 6 colors
    got = mm.decode_image(_gif_encode(6, 4, px, **kw))
    assert got == (6, 4, px)


def test_decode_gif_interlace_all_passes():
    """16 rows exercise all four interlace passes (8/8+4/4+2/2+1)."""
    px = [((i * 37) % 256,) * 3 for i in range(8 * 16)]
    assert mm.decode_image(_gif_encode(8, 16, px, interlaced=True)) == (
        8, 16, px,
    )


def test_decode_gif_real_lzw_compression():
    """A stream with GROWING code widths (no mid-stream clears): a
    run-heavy image makes the encoder dictionary build real entries.
    Encoder here is a faithful LZW compressor, so the decoder's
    dictionary reconstruction (incl. the code==next_code case) runs."""
    # independent real LZW compressor (encode side of the same spec).
    # The width grows when next_code EXCEEDS 2^width — one entry LATER
    # than the encoder's table fills — because the decoder's table
    # lags the encoder's by exactly one entry (the giflib
    # `RunningCode > MaxCode1` rule).
    def lzw_compress(seq, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        table = {(i,): i for i in range(clear)}
        next_code = end + 1
        acc = nb = 0
        out = bytearray()

        def emit(c):
            nonlocal acc, nb
            acc |= c << nb
            nb += width
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        emit(clear)
        buf = ()
        for s in seq:
            cand = buf + (s,)
            if cand in table:
                buf = cand
                continue
            emit(table[buf])
            if next_code < 4096:
                table[cand] = next_code
                next_code += 1
                if next_code > (1 << width) and width < 12:
                    width += 1
            buf = (s,)
        if buf:
            emit(table[buf])
        emit(end)
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    import struct

    w, h = 32, 8
    seq = []
    for i in range(w * h):  # aba ab abab... repetition-heavy
        seq.append((i // 7) % 4)
    px = [(v * 60, v * 60, v * 60) for v in seq]
    table = b"".join(bytes((v * 60,) * 3) for v in range(4))
    out = bytearray(
        b"GIF89a" + struct.pack("<HHBBB", w, h, 0x81, 0, 0) + table
    )
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(2)  # min code size 2
    data = lzw_compress(seq, 2)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    assert mm.decode_image(bytes(out)) == (w, h, px)


def test_decode_gif_rejects_malformed():
    good = _gif_encode(6, 4, GOLD_PX * 4)
    with pytest.raises(ValueError):
        mm.decode_image(good[:-12])  # truncated data sub-blocks
    bad = bytearray(good)
    # image separator -> unknown block id
    sep = bad.index(0x2C, 13)
    bad[sep] = 0x99
    with pytest.raises(ValueError, match="unknown GIF block"):
        mm.decode_image(bytes(bad))
    # oversized dims cap
    import struct

    bomb = bytearray(good)
    struct.pack_into("<HH", bomb, sep + 5, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="oversized"):
        mm.decode_image(bytes(bomb))


def test_decode_features_routes_gif(spark):
    """Router provenance: valid GIF -> 'gif-pixel'; a damaged GIF
    raises NotImplementedError."""
    good = _gif_encode(6, 4, GOLD_PX * 4)
    got = {
        r["doc_id"]: r["decoder"]
        for r in mm.decode_features(_one(spark, good, "image/gif")).collect()
    }
    assert got == {1: "gif-pixel"}
    _raises_not_implemented(mm.decode_features(_one(spark, good[:-12], "image/gif")))


# ---------------------------------------------------------------------------
# r17: REAL image resize (decode -> nearest-neighbor -> P6 transcode)
# ---------------------------------------------------------------------------


def _p6(w, h, px):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(c for p in px for c in p)


def test_resize_media_real_golden(spark):
    """Exact nearest-neighbor mapping: src = (dst * src_dim) //
    dst_dim, both axes, up- and down-scale in one call (4x3 -> 6x2)."""
    src = [(i, 2 * i, 255 - i) for i in range(12)]
    media = spark.createDataFrame(
        [(1, bytearray(_p6(4, 3, src)), "image/x-portable-pixmap")],
        "doc_id long, payload binary, media_type string",
    )
    rows = mm.resize_media(media, width=6, height=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"]) == (6, 2)
    assert r["media_type"] == "image/x-portable-pixmap"
    want = []
    for y in range(2):
        base = ((y * 3) // 2) * 4
        for x in range(6):
            want.append(src[base + (x * 4) // 6])
    assert mm.decode_image(bytes(r["payload"])) == (6, 2, want)


def test_resize_media_real_transcodes_any_decodable(spark):
    """The transcode leg: a GIF source comes OUT as P6 with the same
    resampled pixels a PPM source of the same image produces."""
    px = GOLD_PX * 4  # 6x4
    gif = _gif_encode(6, 4, px)
    ppm = _p6(6, 4, px)
    media = spark.createDataFrame(
        [
            (1, bytearray(gif), "image/gif"),
            (2, bytearray(ppm), "image/x-portable-pixmap"),
        ],
        "doc_id long, payload binary, media_type string",
    )
    rows = {
        r["doc_id"]: bytes(r["payload"])
        for r in mm.resize_media(media, width=3, height=2).collect()
    }
    assert rows[1] == rows[2]  # format-independent resample
    assert rows[1].startswith(b"P6\n3 2\n255\n")


def test_resize_media_real_undecodable_raises(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"not an image at all"), "text/plain")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="stdlib pixel tier"):
        mm.resize_media(media).collect()


# ---------------------------------------------------------------------------
# r17: REAL audio resample (decode -> index-map -> PCM16 transcode)
# ---------------------------------------------------------------------------


def test_resample_audio_golden(spark):
    """Exact nearest-neighbor frame map at 8000 -> 3000 Hz: output
    frame i copies input frame (i*n_in)//n_out, all channels."""
    import struct

    samples = list(range(-8, 8))  # 8 stereo frames
    media = spark.createDataFrame(
        [(1, bytearray(_wav_pcm(samples, n_ch=2, rate=8000)), "audio/wav")],
        "doc_id long, payload binary, media_type string",
    )
    rows = mm.resample_audio(media, target_rate=3000).collect()
    r = rows[0]
    n_out = (8 * 3000) // 8000  # 3
    assert (r["sample_rate"], r["n_frames"]) == (3000, n_out)
    got, n_ch, rate, codec = mm.decode_wav_samples(bytes(r["payload"]))
    assert (n_ch, rate, codec) == (2, 3000, "pcm")
    want = []
    for i in range(n_out):
        src = (i * 8) // n_out
        want += samples[2 * src : 2 * src + 2]
    assert got == want


def test_resample_audio_transcodes_g711(spark):
    """The transcode leg: a mu-law source resamples to the same PCM16
    train as a pre-expanded PCM source of the same signal."""
    import struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")
    raw = bytes(range(0, 256, 3))
    expanded = list(
        struct.unpack("<%dh" % len(raw), audioop.ulaw2lin(raw, 2))
    )
    media = spark.createDataFrame(
        [
            (1, bytearray(_wav_raw(7, 8, raw)), "audio/wav"),
            (2, bytearray(_wav_pcm(expanded)), "audio/wav"),
        ],
        "doc_id long, payload binary, media_type string",
    )
    rows = {
        r["doc_id"]: bytes(r["payload"])
        for r in mm.resample_audio(media, target_rate=5000).collect()
    }
    assert rows[1] == rows[2]  # codec-independent resample
    _s, _c, rate, codec = mm.decode_wav_samples(rows[1])
    assert (rate, codec) == (5000, "pcm")


def test_resample_audio_upsample_and_reject(spark):
    media = spark.createDataFrame(
        [(1, bytearray(_wav_pcm([100, -100], rate=1000)), "audio/wav")],
        "doc_id long, payload binary, media_type string",
    )
    r = mm.resample_audio(media, target_rate=4000).collect()[0]
    got, _c, _r, _k = mm.decode_wav_samples(bytes(r["payload"]))
    assert r["n_frames"] == 8 and got == [100] * 4 + [-100] * 4
    bad = spark.createDataFrame(
        [(1, bytearray(b"not audio"), "text/plain")],
        "doc_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="stdlib WAV tier"):
        mm.resample_audio(bad, target_rate=4000).collect()
    with pytest.raises(ValueError, match="target_rate"):
        mm.resample_audio(media, target_rate=0)


# ---------------------------------------------------------------------------
# One media router: every entry point dispatches, decodes and names a
# payload the same way, and raises NotImplementedError on a malformed one
# ---------------------------------------------------------------------------


def _adpcm_block_wav():
    import struct

    blk = struct.pack("<hBB", 0, 0, 0) + bytes(8)
    return _wav_raw(0x11, 4, blk, balign=len(blk), extra=struct.pack("<HH", 2, 17))


@pytest.mark.parametrize(
    "make,decoder",
    [
        (lambda: _ppm_p6(3, 2, GOLD_PX), "ppm-bmp-pixel"),
        (lambda: _bmp24(3, 2, GOLD_PX), "ppm-bmp-pixel"),
        (lambda: _png(3, 2, GOLD_PX, filters=[1, 4]), "png-pixel"),
        (lambda: _gif_encode(6, 4, GOLD_PX * 4), "gif-pixel"),
        (lambda: _PY_JPG, "jpeg-pixel"),
        (
            lambda: _jpeg_progressive(
                [_gray_fixture_blocks()], 16, 16,
                [(None, 0, 0, 0, 0), (0, 1, 63, 0, 0)],
            ),
            "jpeg-pixel",
        ),
        (lambda: _wav_pcm([0, 1000, -1000, 32767, -32768, 500], n_ch=2), "wav-pcm"),
        (lambda: _wav_raw(7, 8, bytes(range(64))), "wav-g711u"),
        (_adpcm_block_wav, "wav-ima-adpcm"),
        (lambda: _flac_encode([_FLAC_MONO]), "flac-pcm"),
        (_mp4_fixture, "mp4-meta"),
    ],
    ids=[
        "ppm", "bmp", "png", "gif", "jpeg", "jpeg_progressive", "wav_pcm",
        "g711", "ima_adpcm", "flac", "mp4",
    ],
)
def test_router_parity_across_entry_points(spark, make, decoder):
    """decode_real, decode_features and decode_frame_features (the
    payload as the one sample of an MJPEG-style track) return the same
    features and decoder name for every golden fixture; a malformed
    copy (cut to its first 12 bytes, magic intact) raises
    NotImplementedError from every one of them."""
    import struct

    payload = make()
    real = mm.decode_real(payload, "application/octet-stream")
    as_f32 = list(struct.unpack("<8f", struct.pack("<8f", *real)))
    (row,) = mm.decode_features(_one(spark, payload)).collect()
    assert (list(row["feature"]), row["decoder"]) == (as_f32, decoder)
    assert row["n_bytes"] == len(payload)
    (frame,) = mm.decode_frame_features(_one(spark, _mp4_track([payload]))).collect()
    assert (list(frame["feature"]), frame["decoder"]) == (as_f32, decoder)
    assert (frame["sampler"], frame["size"]) == ("mp4-stbl", len(payload))

    bad = payload[:12]
    with pytest.raises(NotImplementedError):
        mm.decode_real(bad, "application/octet-stream")
    _raises_not_implemented(mm.decode_features(_one(spark, bad)))
    _raises_not_implemented(mm.decode_frame_features(_one(spark, _mp4_track([bad]))))
