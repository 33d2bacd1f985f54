"""Pure-Python Snappy codec (sources/snappycodec.py).

Golden streams are hand-assembled from the public format description
(google/snappy format_description.txt), so the DECOMPRESSOR is verified
against the spec independently of our compressor; the compressor is then
verified by round-trip (any spec-valid encoding decodes identically).
"""

import os
import random
import zlib

import pytest

from mahout_spark.sources.snappycodec import (compress_raw, decompress_raw,
                                              hadoop_snappy_compress,
                                              hadoop_snappy_decompress)


# -- spec goldens (decompressor first) -----------------------------------------


def test_golden_literal_plus_copy1():
    # varint(11), literal "hello " (tag (6-1)<<2), copy-1 len=5 off=6
    stream = b"\x0b\x14hello \x05\x06"
    assert decompress_raw(stream) == b"hello hello"


def test_golden_overlapping_copy():
    # varint(6), literal "ab", copy-1 len=4 off=2 -> "ababab"
    stream = b"\x06\x04ab\x01\x02"
    assert decompress_raw(stream) == b"ababab"


def test_golden_copy2_and_long_literal():
    # 61-byte literal needs the 1-byte extended length (tag 60<<2, n-1)
    lit = bytes(range(61))
    # varint(65): literal(61) + copy-2 len=4 off=61
    stream = bytes([65]) + bytes([60 << 2, 60]) + lit + \
        bytes([0x02 | (3 << 2), 61, 0])
    assert decompress_raw(stream) == lit + lit[:4]


def test_golden_empty():
    assert decompress_raw(b"\x00") == b""
    assert compress_raw(b"") == b"\x00"


def test_corrupt_streams_raise():
    with pytest.raises(ValueError, match="preamble"):
        decompress_raw(b"\x0b\x14hello ")  # truncated, missing copy
    with pytest.raises(ValueError, match="offset"):
        decompress_raw(b"\x06\x04ab\x01\x09")  # offset 9 > produced 2
    with pytest.raises(ValueError, match="truncated"):
        decompress_raw(b"")


# -- round-trips ----------------------------------------------------------------


@pytest.mark.parametrize("payload", [
    b"",
    b"a",
    b"abc" * 5000,                      # highly repetitive
    # incompressible, > one fragment; seeded so the test id is stable
    pytest.param(random.Random(0).randbytes(70000), id="random_70000"),
    ("the quick brown fox " * 4000).encode(),
    bytes(range(256)) * 300,
])
def test_raw_round_trip(payload):
    assert decompress_raw(compress_raw(payload)) == payload


def test_repetitive_actually_compresses():
    data = b"tokenize the web corpus " * 2000
    assert len(compress_raw(data)) < len(data) // 5


def test_long_match_chunking():
    # one giant run exercises the 64/60-op copy chunker incl. remainders
    for n in (64, 65, 66, 67, 68, 127, 128, 200, 5000):
        data = b"x" * (n + 4)
        assert decompress_raw(compress_raw(data)) == data


def test_hadoop_framing_round_trip():
    data = ("url\thttp://example.com/%d\n" * 40000 % tuple(range(40000))
            ).encode()
    blob = hadoop_snappy_compress(data, buffer_size=64 * 1024)
    assert hadoop_snappy_decompress(blob) == data
    # multiple chunks were framed
    assert len(data) > 64 * 1024
    assert hadoop_snappy_decompress(hadoop_snappy_compress(b"")) == b""


def test_hadoop_framing_multi_piece_chunk():
    # a reader must accept several compressed pieces inside one chunk
    import struct
    part1, part2 = b"alpha" * 20, b"beta" * 25
    chunk = struct.pack(">I", len(part1) + len(part2))
    for p in (part1, part2):
        raw = compress_raw(p)
        chunk += struct.pack(">I", len(raw)) + raw
    assert hadoop_snappy_decompress(chunk) == part1 + part2


def test_beats_nothing_but_matches_zlib_contract():
    # sanity: same data decodes identically through an independent codec
    data = bytes(os.urandom(1000)) + b"spam" * 1000
    assert decompress_raw(compress_raw(data)) == \
        zlib.decompress(zlib.compress(data))
