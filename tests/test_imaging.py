"""Codec + pixel-parity tests (PSNR gate per BASELINE.json input_hint)."""

import numpy as np
import pytest

from pgsql2osm_spark.functions import imaging as I
from pgsql2osm_spark.sources import fixtures as FX

rng = np.random.default_rng(3)


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def hamming64(a: int, b: int) -> int:
    return int(bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1"))


def test_png_roundtrip_exact():
    for shape in [(16, 16, 3), (33, 47, 3), (64, 64, 3), (1, 5, 3)]:
        px = rng.integers(0, 256, shape).astype(np.uint8)
        assert (I.png_decode(I.png_encode(px)) == px).all()


def test_png_decode_all_filters():
    """Decoder handles filter types 1-4 (hand-built streams)."""
    import struct
    import zlib

    px = rng.integers(0, 256, (6, 8, 3)).astype(np.uint8)
    # re-encode with per-row filters 1..4 applied manually
    h, w, _ = px.shape
    flat = px.reshape(h, w * 3).astype(np.int32)
    lines = []
    for r in range(h):
        f = (r % 4) + 1
        prev = flat[r - 1] if r > 0 else np.zeros(w * 3, dtype=np.int32)
        cur = flat[r]
        enc = np.zeros(w * 3, dtype=np.int32)
        for i in range(w * 3):
            a = cur[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[i] = (cur[i] - pred) & 0xFF
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + I._chunk(b"IHDR", ihdr)
        + I._chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + I._chunk(b"IEND", b"")
    )
    assert (I.png_decode(data) == px).all()


def test_jpeg_psnr_gate():
    """Real baseline JPEG round trip (VERDICT r4 #3): PSNR >= 40 dB at the
    fixture quality, and genuinely lossy."""
    px = rng.integers(0, 256, (48, 48, 3)).astype(np.uint8)
    dec = I.decode_image(I.encode_image(px, "jpeg"), "jpeg")
    assert psnr_db(px, dec) >= 40.0
    assert not (dec == px).all()  # it is genuinely lossy


def test_jpeg_stream_is_real_jfif():
    """The bitstream is a real JFIF file: SOI/APP0-JFIF/DQT/SOF0/DHT/SOS/EOI
    markers, standard zigzag, byte-stuffed entropy data."""
    from pgsql2osm_spark.functions import jpeg as J

    px = rng.integers(0, 256, (24, 17, 3)).astype(np.uint8)  # non-multiple of 8
    data = J.jpeg_encode(px, quality=92)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[6:11] == b"JFIF\x00"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in data
    std_zigzag = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5]
    assert list(J.ZIGZAG[:16]) == std_zigzag
    dec = J.jpeg_decode(data)
    assert dec.shape == px.shape  # odd sizes crop back exactly


def test_jpeg_420_subsampled_decode():
    """Decoder handles subsampled streams (2x2 luma MCUs + upsampled
    chroma) — the common camera layout our 4:4:4 fixture doesn't use."""
    from pgsql2osm_spark.functions import jpeg as J

    yy, xx = np.mgrid[0:40, 0:40]
    px = np.stack([xx * 6, yy * 6, (xx + yy) * 3], axis=-1).clip(0, 255).astype(np.uint8)
    dec = J.jpeg_decode(J.jpeg_encode(px, quality=95, subsample="420"))
    assert dec.shape == px.shape
    assert psnr_db(px, dec) >= 30.0  # smooth image survives 4:2:0 fine


def test_jpeg_progressive_seam_raises():
    """Progressive JPEG (SOF2) hits the documented NotImplementedError
    seam, not a garbage decode."""
    import pytest

    from pgsql2osm_spark.functions import jpeg as J

    px = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    data = bytearray(J.jpeg_encode(px))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC2  # rewrite SOF0 -> SOF2
    with pytest.raises(NotImplementedError):
        J.jpeg_decode(bytes(data))


def test_unknown_fmt_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        I.decode_image(b"xxxx", "webp")


def test_phash_properties():
    px = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    h = I.phash64(px)
    assert h == I.phash64(px)  # deterministic
    noisy = np.clip(px.astype(int) + rng.integers(-2, 3, px.shape), 0, 255).astype(np.uint8)
    assert hamming64(h, I.phash64(noisy)) <= 12  # robust to tiny noise
    other = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    assert hamming64(h, I.phash64(other)) >= 10  # separates unrelated images


def test_fixture_pixel_parity():
    """Decode every fixture row: png exact vs regenerated pixels, jpeg PSNR>=40,
    caption format, phash consistency — the golden parity gate."""
    pdf = FX.gen_images_pandas(32, with_pixels=True)
    for _, row in pdf.iterrows():
        dec = I.decode_image(row["bytes"], row["fmt"])
        assert dec.shape == (row["h"], row["w"], 3)
        src = row["pixels"]
        if row["fmt"] == "png":
            assert (dec == src).all()
        else:
            assert psnr_db(src, dec) >= 40.0
        assert row["caption"].startswith("caption ")
        assert I.phash64(dec) == row["phash"]


def _split_jfif(data: bytes):
    """(header_upto_end_of_SOS_payload, entropy_bytes) of a single-scan JFIF."""
    import struct

    pos = 2
    while pos < len(data):
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if marker == 0xDA:  # SOS
            head_end = pos + 2 + ln
            assert data[-2:] == b"\xff\xd9"
            return data[:head_end], data[head_end:-2]
        pos += 2 + ln
    raise AssertionError("no SOS")


def test_jpeg_dri_restart_roundtrip():
    """DRI/RSTn decode (ADVICE r5 high): a 2-MCU stream with DRI=1 must
    decode BOTH MCUs — the pre-fix reader never consumed the RSTn when the
    restart boundary arrived without a prior marker-stopping _fill, and
    every MCU after the first interval decoded as zeros.

    Fixture: two 8x8 tiles encoded separately (independent DC prediction,
    byte-aligned — exactly a restart interval's properties), spliced into
    one 16-wide stream with a DRI=1 segment and an RST0 between them."""
    import struct

    from pgsql2osm_spark.functions import jpeg as J

    px = rng.integers(0, 256, (8, 16, 3)).astype(np.uint8)
    e1 = J.jpeg_encode(px[:, :8], quality=92)
    e2 = J.jpeg_encode(px[:, 8:], quality=92)
    head, ent1 = _split_jfif(e1)
    _, ent2 = _split_jfif(e2)
    # patch SOF0 width 8 -> 16 in the shared header
    sof = head.index(b"\xff\xc0")
    head = bytearray(head)
    (w,) = struct.unpack(">H", head[sof + 7 : sof + 9])
    assert w == 8
    head[sof + 7 : sof + 9] = struct.pack(">H", 16)
    # insert DRI=1 right before SOS
    sos = bytes(head).index(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x01"
    stream = bytes(head[:sos]) + dri + bytes(head[sos:]) + ent1 + b"\xff\xd0" + ent2 + b"\xff\xd9"
    dec = J.jpeg_decode(stream)
    ref1 = J.jpeg_decode(e1)
    ref2 = J.jpeg_decode(e2)
    assert (dec[:, :8] == ref1).all()
    assert (dec[:, 8:] == ref2).all()  # pre-fix: MCU 2 came back corrupted


def test_jpeg_fill_bytes_before_marker():
    """T.81 B.1.1.2 fill bytes (ADVICE r5 low): extra 0xFF padding before a
    marker must not desynchronize the segment walk."""
    from pgsql2osm_spark.functions import jpeg as J

    px = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    data = J.jpeg_encode(px, quality=92)
    ref = J.jpeg_decode(data)
    sof = data.index(b"\xff\xc0")
    padded = data[:sof] + b"\xff\xff\xff" + data[sof:]
    assert (J.jpeg_decode(padded) == ref).all()


@pytest.mark.parametrize(
    "data",
    [
        b"\xff\xd8\xff\xff",
        b"\xff\xd8\xff",
        b"\xff\xd8\xff\xdb\x00",
        b"\xff\xd8\xff\xdb\x00\x43\x00",
    ],
    ids=["fill_byte_then_eof", "marker_without_code", "half_length_field", "length_overruns"],
)
def test_jpeg_truncated_marker_walk_raises_value_error(data):
    """A stream cut inside the marker walk names the offset of the cut
    marker instead of crashing with IndexError or struct.error."""
    from pgsql2osm_spark.functions import jpeg as J

    with pytest.raises(ValueError, match=r"^truncated stream at \d+$"):
        J.jpeg_decode(data)
