"""Pure-stdlib PNG/WAV codec goldens: round-trips, full filter-set decode,
strict corruption/truncation errors (round-5 un-stubbing of multimodal
decode)."""

import struct
import zlib

import pytest

from otel_semconvprocessor_spark.operators.media_codecs import (
    PNG_SIGNATURE,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def test_png_round_trip():
    data = encode_png(20, 10, (120, 120, 120))
    d = decode_png(data)
    assert d["width"] == 20 and d["height"] == 10
    assert d["channels"] == 3 and d["bit_depth"] == 8
    assert d["mean_level"] == pytest.approx(120 / 255.0)


def test_png_deterministic():
    assert encode_png(5, 5, (1, 2, 3)) == encode_png(5, 5, (1, 2, 3))
    assert encode_png(5, 5, (1, 2, 3)) != encode_png(5, 5, (1, 2, 4))


def _png_from_filtered(width, height, channels, color_type, filtered_rows):
    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(filtered_rows))
    return PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def test_png_all_filter_types_decode():
    """Hand-filter a known 3x4 greyscale image with Sub/Up/Average/Paeth and
    assert the decoder reconstructs the same pixels as filter-None."""
    rows = [
        [10, 20, 30],
        [15, 25, 35],
        [40, 50, 60],
        [70, 80, 90],
    ]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    # reference: filter 0 everywhere
    plain = [bytes([0] + r) for r in rows]
    # row0 Sub, row1 Up, row2 Average, row3 Paeth (bpp=1)
    sub = bytes([1] + [rows[0][x] - (rows[0][x - 1] if x else 0) & 0xFF for x in range(3)])
    up = bytes([2] + [(rows[1][x] - rows[0][x]) & 0xFF for x in range(3)])
    avg = bytes(
        [3]
        + [
            (rows[2][x] - ((rows[2][x - 1] if x else 0) + rows[1][x]) // 2) & 0xFF
            for x in range(3)
        ]
    )
    pae = bytes(
        [4]
        + [
            (
                rows[3][x]
                - paeth(rows[3][x - 1] if x else 0, rows[2][x], rows[2][x - 1] if x else 0)
            )
            & 0xFF
            for x in range(3)
        ]
    )
    d_plain = decode_png(_png_from_filtered(3, 4, 1, 0, plain))
    d_mixed = decode_png(_png_from_filtered(3, 4, 1, 0, [sub, up, avg, pae]))
    assert d_mixed["mean_level"] == pytest.approx(d_plain["mean_level"])
    assert d_mixed["width"] == 3 and d_mixed["height"] == 4 and d_mixed["channels"] == 1


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:10],  # truncated mid-IHDR
        lambda b: b[:-6],  # truncated before IEND CRC
        lambda b: b"JUNK" + b[4:],  # bad signature
        lambda b: b[:20] + bytes([b[20] ^ 0xFF]) + b[21:],  # flip an IHDR byte -> CRC fail
    ],
)
def test_png_corruption_raises(mutate):
    data = encode_png(6, 6, (9, 9, 9))
    with pytest.raises(ValueError):
        decode_png(mutate(data))


def test_wav_round_trip():
    data = encode_wav(800, channels=2, amplitude=512)
    d = decode_wav(data)
    assert d["channels"] == 2 and d["sample_rate"] == 8000
    assert d["n_frames"] == 800
    assert d["duration_ms"] == 100
    assert d["mean_level"] == pytest.approx(512 / 32768.0)


def test_wav_corruption_raises():
    data = encode_wav(100)
    with pytest.raises(ValueError):
        decode_wav(data[:-7])  # cut inside sample data
    with pytest.raises(ValueError):
        decode_wav(b"RIFFjunkWAVE" + b"\x00" * 8)
    with pytest.raises(ValueError):
        decode_wav(b"")
