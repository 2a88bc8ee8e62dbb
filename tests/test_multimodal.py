"""Multimodal: real PNG decode (pure stdlib) + Spark decode stage.

The test-side ``make_png`` encoder applies the PNG §9 filters FORWARD
independently of the library; ``decode_png`` must invert them
byte-exactly — a round-trip cross-check, not a shared-code tautology.
"""

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from ironspark.multimodal import decode_image, decode_image_stage, decode_png


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _filter_row(ftype, line, prev, bpp):
    """Forward PNG filter (spec §9) — the encoder side."""
    n = len(line)
    out = bytearray(n)
    for i in range(n):
        x = line[i]
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - ((a + b) >> 1)) & 0xFF
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (x - pred) & 0xFF
    return bytes(out)


def make_png(pixels: np.ndarray, ctype: int, filters=None, plte=None) -> bytes:
    h, w, c = pixels.shape
    bpp = c
    filters = filters if filters is not None else [0] * h
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = bytearray()
    prev = bytes(w * c)
    for y in range(h):
        line = pixels[y].tobytes()
        raw += bytes([filters[y]]) + _filter_row(filters[y], line, prev, bpp)
        prev = line
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte.tobytes())
    out += _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")
    return out


PIX_2X2 = np.array(
    [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
)


def test_decode_2x2_rgb_byte_exact():
    png = make_png(PIX_2X2, ctype=2)
    img = decode_png(png)
    assert (img["width"], img["height"], img["channels"]) == (2, 2, 3)
    assert img["pixels"].tobytes() == PIX_2X2.tobytes()


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_decode_inverts_every_filter(ftype):
    rng = np.random.RandomState(7 + ftype)
    pix = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    png = make_png(pix, ctype=2, filters=[ftype] * 5)
    assert decode_png(png)["pixels"].tobytes() == pix.tobytes()


def test_decode_mixed_filters_and_modes():
    rng = np.random.RandomState(42)
    # mixed filters exercise the cross-row (Up/Average/Paeth) recurrence
    pix = rng.randint(0, 256, size=(6, 3, 4), dtype=np.uint8)  # RGBA
    png = make_png(pix, ctype=6, filters=[0, 1, 2, 3, 4, 2])
    img = decode_png(png)
    assert img["channels"] == 4
    assert img["pixels"].tobytes() == pix.tobytes()
    # grayscale
    g = rng.randint(0, 256, size=(3, 5, 1), dtype=np.uint8)
    assert decode_png(make_png(g, ctype=0))["pixels"].tobytes() == g.tobytes()
    # gray+alpha
    ga = rng.randint(0, 256, size=(2, 2, 2), dtype=np.uint8)
    assert decode_png(make_png(ga, ctype=4))["pixels"].tobytes() == ga.tobytes()


def test_decode_palette_expands_to_rgb():
    plte = np.array([[10, 20, 30], [200, 100, 0]], dtype=np.uint8)
    idx = np.array([[[0], [1]], [[1], [0]]], dtype=np.uint8)
    img = decode_png(make_png(idx, ctype=3, plte=plte))
    assert img["channels"] == 3
    expect = plte[idx[:, :, 0]]
    assert img["pixels"].tobytes() == expect.tobytes()


def test_decode_rejects_unsupported_and_garbage():
    # PNG is the only built-in codec: JPEG, GIF and webp containers
    # stay honest NotImplementedError, not a wrong answer
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89a no pixel data")
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-chunks")
    # 16-bit depth: honest NotImplementedError, not a wrong answer
    png16 = bytearray(make_png(PIX_2X2, ctype=2))
    ihdr_off = png16.find(b"IHDR") + 4
    png16[ihdr_off + 8] = 16
    with pytest.raises(NotImplementedError):
        decode_png(bytes(png16))


def test_decode_image_stage_distributed(spark):
    png = make_png(PIX_2X2, ctype=2)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [bytearray(png), bytearray(b"garbage"), None],
            }
        )
    )
    rows = {r.media_id: r for r in decode_image_stage(df).collect()}
    ok = rows[1]
    assert (ok.width, ok.height, ok.channels) == (2, 2, 3)
    assert ok.pixel_digest == hashlib.md5(PIX_2X2.tobytes()).hexdigest()
    assert ok.decode_err is None
    assert rows[2].width is None and "NotImplementedError" in rows[2].decode_err
    assert rows[3].decode_err is not None  # empty payload -> error row


def test_encode_png_matches_independent_encoder_and_roundtrips():
    from ironspark.multimodal import encode_png

    rng = np.random.RandomState(99)
    pix = rng.randint(0, 256, size=(4, 3, 3), dtype=np.uint8)
    filters = [0, 1, 3, 4]
    lib = encode_png(pix, filters=filters)
    ref = make_png(pix, ctype=2, filters=filters)
    assert lib == ref  # byte-identical to the test-side encoder
    assert decode_png(lib)["pixels"].tobytes() == pix.tobytes()
    # gray and RGBA channel mapping
    g = rng.randint(0, 256, size=(2, 2, 1), dtype=np.uint8)
    assert decode_png(encode_png(g))["channels"] == 1
    rgba = rng.randint(0, 256, size=(2, 2, 4), dtype=np.uint8)
    assert decode_png(encode_png(rgba))["pixels"].tobytes() == rgba.tobytes()


def test_image_dims_headers():
    """Header-only dims for PNG/JPEG/GIF/BMP from hand-built minimal
    containers (ITU T.81 / GIF89a / BITMAPINFOHEADER layouts)."""
    from ironspark.multimodal import image_dims

    # PNG via our own encoder
    png = make_png(np.zeros((3, 7, 3), dtype=np.uint8), ctype=2)
    assert image_dims(png) == {"format": "png", "width": 7, "height": 3}

    # minimal JPEG: SOI, APP0 (len 4), DQT-ish skip seg, SOF0, EOI
    jpeg = (
        b"\xff\xd8"                       # SOI
        + b"\xff\xe0" + (4).to_bytes(2, "big") + b"\x00\x00"   # APP0
        + b"\xff\xdb" + (5).to_bytes(2, "big") + b"\x00\x00\x00"  # DQT
        + b"\xff\xc0" + (11).to_bytes(2, "big")  # SOF0, len 11
        + b"\x08" + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
        + b"\x03\x01\x11\x00"
        + b"\xff\xd9"                      # EOI
    )
    assert image_dims(jpeg) == {"format": "jpeg", "width": 640, "height": 480}
    # restart markers / fill bytes before SOF are skipped
    jpeg2 = b"\xff\xd8\xff\xff" + b"\xff\xd0" + jpeg[2:]
    assert image_dims(jpeg2)["width"] == 640

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 3
    assert image_dims(gif) == {"format": "gif", "width": 320, "height": 200}

    bmp = (
        b"BM" + b"\x00" * 16
        + (1024).to_bytes(4, "little")
        + (-768).to_bytes(4, "little", signed=True)  # top-down BMP
    )
    assert image_dims(bmp) == {"format": "bmp", "width": 1024, "height": 768}

    with pytest.raises(ValueError):
        image_dims(b"not an image")
    with pytest.raises(ValueError):
        image_dims(b"\xff\xd8\xff\xe0\x00\x04\x00\x00\xff\xd9")  # no SOF
    with pytest.raises(ValueError):
        image_dims(b"GIF89a\x01")  # truncated
