""".xz decode — functions/lzma_codec.py: every check type, every
stream layout, and the checks a plain ``lzma.decompress`` skips
(a corrupt non-first stream, unaligned stream padding)."""

from __future__ import annotations

import hashlib
import lzma as stdlzma
import random
import struct
import zlib

import pytest

from datawarehouseproject_spark.functions.lzma_codec import (
    decode_xz,
    synth_xz_text,
    synth_xz_text_plan,
)

_SHAPES = [
    b"",
    b"a",
    b"hello world " * 50,
    (b"abcabcabc" * 200 + b"X" + b"abcabcabc" * 200),  # long matches
    bytes((i * i) % 251 for i in range(20_000)),       # mid-entropy
]


def _random_bytes(n: int, seed: int = 1) -> bytes:
    rnd = random.Random(seed)
    return bytes(rnd.randrange(256) for _ in range(n))


def _block_check_end(stream: bytes) -> int:
    """Offset just past the last block's check field: the index starts
    there, and the footer's backward size says where."""
    (backward,) = struct.unpack_from("<I", stream, len(stream) - 8)
    return len(stream) - 12 - (backward + 1) * 4


def test_xz_all_check_types_round_trip():
    for data in _SHAPES + [_random_bytes(3000)]:
        for check in (
            stdlzma.CHECK_NONE,
            stdlzma.CHECK_CRC32,
            stdlzma.CHECK_CRC64,
            stdlzma.CHECK_SHA256,
        ):
            x = stdlzma.compress(data, format=stdlzma.FORMAT_XZ, check=check)
            assert decode_xz(x) == data, (len(data), check)


def test_concatenated_xz_streams_with_padding():
    a = stdlzma.compress(b"s1 " * 100, check=stdlzma.CHECK_CRC64)
    b = stdlzma.compress(b"s2 " * 100, check=stdlzma.CHECK_SHA256)
    assert decode_xz(a + b) == b"s1 " * 100 + b"s2 " * 100
    # four-byte null stream padding between streams is legal
    assert decode_xz(a + b"\x00" * 4 + b) == b"s1 " * 100 + b"s2 " * 100


def test_incompressible_data_uses_uncompressed_chunks():
    """liblzma stores high-entropy data in LZMA2 UNCOMPRESSED chunks
    (control 0x01/0x02) — pin that code path explicitly."""
    data = _random_bytes(200_000, seed=9)
    x = stdlzma.compress(data, format=stdlzma.FORMAT_XZ, preset=0)
    assert decode_xz(x) == data


def test_multi_chunk_large_payload():
    """> 2 MiB of compressible text forces multiple compressed
    chunks (21-bit unpacked-size limit per chunk) and exercises
    state carry-over between chunks."""
    data = (b"The quick brown fox jumps over the lazy dog. " * 50_000)
    x = stdlzma.compress(data, check=stdlzma.CHECK_CRC32, preset=1)
    assert decode_xz(x) == data


def test_checks_are_actually_verified():
    """Corrupting the stored check (last bytes before the index)
    must raise — prove the CRC32/CRC64/SHA-256 verification is live.
    The check field sits between block data and the index, located
    from the footer's backward size."""
    data = b"check me " * 100
    for check, name in (
        (stdlzma.CHECK_CRC32, "CRC32"),
        (stdlzma.CHECK_CRC64, "CRC64"),
        (stdlzma.CHECK_SHA256, "SHA-256"),
    ):
        x = bytearray(stdlzma.compress(data, check=check))
        x[_block_check_end(x) - 1] ^= 0x01  # last byte of the check
        with pytest.raises(ValueError):
            decode_xz(bytes(x))


def test_reserved_check_type_rejected():
    """liblzma decodes a stream whose check id it does not know (2 is
    reserved, 4 bytes wide) WITHOUT verifying the check; the decoder
    must refuse it. Re-sign header and footer so only the id is odd."""
    x = bytearray(stdlzma.compress(b"abc" * 30, check=stdlzma.CHECK_CRC32))
    x[7] = x[-3] = 2  # stream flags in header and footer
    x[8:12] = struct.pack("<I", zlib.crc32(bytes(x[6:8])))
    x[-12:-8] = struct.pack("<I", zlib.crc32(bytes(x[-8:-2])))
    assert stdlzma.decompress(bytes(x)) == b"abc" * 30  # unverified
    with pytest.raises(ValueError, match="check type"):
        decode_xz(bytes(x))


def test_skeleton_crcs_are_verified():
    x = bytearray(stdlzma.compress(b"abc", check=stdlzma.CHECK_CRC32))
    x[8] ^= 0x01  # stream-header CRC32 byte
    with pytest.raises(ValueError):
        decode_xz(bytes(x))


def test_corrupt_range_data_raises_not_garbage():
    """Bit flips inside the compressed payload must surface as
    ValueError (size/terminator/check mismatch), never as a silent
    wrong answer or a non-ValueError crash."""
    data = b"sensitive " * 500
    base = stdlzma.compress(data, check=stdlzma.CHECK_CRC32)
    for at in (20, 25, 30, len(base) // 2):
        x = bytearray(base)
        x[at] ^= 0x40
        try:
            got = decode_xz(bytes(x))
        except ValueError:
            continue
        # extraordinarily unlikely, but if structure survived the
        # flip the plaintext must still verify against its check
        assert got == data


def test_sha256_check_against_hashlib():
    data = b"hash pin " * 64
    x = stdlzma.compress(data, check=stdlzma.CHECK_SHA256)
    # the final 32 bytes before the index are the sha256 of data
    assert hashlib.sha256(data).digest() in x
    assert decode_xz(x) == data


def test_synth_plan_matches_decoded_text():
    for seed in range(24):
        plan = synth_xz_text_plan(seed)
        text = decode_xz(synth_xz_text(seed)).decode("ascii")
        lines = text.splitlines()
        assert len(lines) == plan["n_lines"], seed
        assert lines[0] == f"line 0 of doc {seed} value {(seed * 31) % 9973}"
        # odd seeds are two concatenated streams; even, one
        n_streams = synth_xz_text(seed).count(b"\xfd7zXZ\x00")
        assert n_streams == (2 if seed % 2 else 1)


def test_truncated_inputs_raise():
    x = stdlzma.compress(b"abcdef" * 20, check=stdlzma.CHECK_CRC32)
    for cut in (0, 5, 11, len(x) // 2, len(x) - 1):
        with pytest.raises(ValueError):
            decode_xz(x[:cut])


def test_output_cap_bounds_decompression_bombs():
    # a few KB of compressed zeros declare far more output than the
    # cap allows; the decoder must raise ValueError (the quarantine
    # contract), never OOM toward MemoryError
    bomb = b"\x00" * (1 << 20)  # 1 MiB of zeros compresses to ~1 KB
    xz = stdlzma.compress(bomb, check=stdlzma.CHECK_CRC32)
    with pytest.raises(ValueError, match="cap"):
        decode_xz(xz, max_output=1 << 16)
    # the cap spans streams, and it does not fire on in-bounds output
    with pytest.raises(ValueError, match="cap"):
        decode_xz(xz + xz, max_output=(1 << 21) - 1)
    assert decode_xz(xz, max_output=1 << 20) == bomb
    assert decode_xz(xz + xz, max_output=1 << 21) == bomb + bomb


def test_corrupt_second_stream_raises():
    """``lzma.decompress`` drops an undecodable non-first stream as
    "trailing garbage" and returns the first stream's text; the
    decoder must reject it. Flip a bit in the second stream's
    compressed data and, separately, in its check."""
    first, second = b"first " * 200, b"second " * 200
    a = stdlzma.compress(first, check=stdlzma.CHECK_CRC64)
    b = stdlzma.compress(second, check=stdlzma.CHECK_CRC64)
    data_at = 12 + (b[12] + 1) * 4 + 8  # inside the LZMA2 data
    check_at = _block_check_end(b) - 1  # last byte of the CRC64
    for at in (data_at, check_at):
        bad = bytearray(b)
        bad[at] ^= 0x10
        corrupt = a + bytes(bad)
        assert stdlzma.decompress(corrupt) == first  # the trap
        with pytest.raises(ValueError):
            decode_xz(corrupt)


def test_stream_padding_must_be_four_byte_aligned():
    a = stdlzma.compress(b"s1 " * 50, check=stdlzma.CHECK_CRC32)
    b = stdlzma.compress(b"s2 " * 50, check=stdlzma.CHECK_NONE)
    plain = b"s1 " * 50 + b"s2 " * 50
    for pad in (0, 4, 8):
        assert decode_xz(a + b"\x00" * pad + b) == plain
        assert decode_xz(a + b + b"\x00" * pad) == plain
    for pad in (1, 2, 3, 5, 6, 7):
        with pytest.raises(ValueError):
            decode_xz(a + b"\x00" * pad + b)
        with pytest.raises(ValueError):
            decode_xz(a + b + b"\x00" * pad)
