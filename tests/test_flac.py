"""FLAC codec tests: encoder↔decoder round-trips plus hand-built
known-answer streams written bit-by-bit IN THE TEST from the public spec
(RFC 9639) with an independent bit-writer and independent CRC
implementations — so decoder correctness is checked against the spec,
not against the encoder under test."""

import struct

import numpy as np
import pytest

from kgspark.datapipe.flaccodec import decode_flac, encode_flac


# ---------------------------------------------------------- independent
# reference helpers (deliberately re-implemented here, not imported)

class W:
    def __init__(self):
        self.bits = []

    def w(self, v, n):
        self.bits.extend((v >> (n - 1 - i)) & 1 for i in range(n))

    def unary(self, q):
        self.bits.extend([0] * q + [1])

    def bytes(self):
        assert len(self.bits) % 8 == 0
        return bytes(
            int("".join(map(str, self.bits[i:i + 8])), 2)
            for i in range(0, len(self.bits), 8))


def crc8(data):
    c = 0
    for b in data:
        c ^= b
        for _ in range(8):
            c = ((c << 1) ^ 0x07 if c & 0x80 else c << 1) & 0xFF
    return c


def crc16(data):
    c = 0
    for b in data:
        c ^= b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005 if c & 0x8000 else c << 1) & 0xFFFF
    return c


def streaminfo(block_size, sr, nch, bps, total):
    w = W()
    w.w(block_size, 16); w.w(block_size, 16)
    w.w(0, 24); w.w(0, 24)
    w.w(sr, 20); w.w(nch - 1, 3); w.w(bps - 1, 5); w.w(total, 36)
    body = w.bytes() + b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def frame_header(w, bs, ch_code, frame_no=0):
    w.w(0b11111111111110, 14); w.w(0, 1); w.w(0, 1)
    w.w(0b0110, 4)          # 8-bit block size at end
    w.w(0b0000, 4)          # sample rate from STREAMINFO
    w.w(ch_code, 4)
    w.w(0b100, 3); w.w(0, 1)  # 16 bit
    w.w(frame_no, 8)        # coded number < 0x80 → one byte
    w.w(bs - 1, 8)


def _zz(v):
    return (v << 1) if v >= 0 else (-(v << 1) - 1)


# ---------------------------------------------------------- round-trips

def test_roundtrip_mono_random():
    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, size=10000, dtype=np.int16)
    out = decode_flac(encode_flac(s, block_size=4096), verify_md5=True)
    assert out.dtype == np.int32 and np.array_equal(out, s)


def test_roundtrip_stereo_smooth_and_tail_block():
    t = np.arange(9000)
    left = (3000 * np.sin(t / 50)).astype(np.int16)
    right = (2000 * np.sin(t / 37 + 1)).astype(np.int16)
    s = np.stack([left, right], axis=1)
    out = decode_flac(encode_flac(s, block_size=4096), verify_md5=True)
    assert out.shape == (9000, 2) and np.array_equal(out, s)


def test_roundtrip_constant_and_short():
    s = np.full(100, -123, dtype=np.int16)
    assert np.array_equal(decode_flac(encode_flac(s)), s)
    s2 = np.array([7], dtype=np.int16)
    assert np.array_equal(decode_flac(encode_flac(s2)), s2)


def test_roundtrip_square_wave_exact():
    # RMS == amplitude requires losslessness
    amp, m = 1200, 57
    sq = np.tile(np.concatenate([np.full(16, amp, np.int16),
                                 np.full(16, -amp, np.int16)]),
                 (m + 1) // 2)[: 16 * m]
    out = decode_flac(encode_flac(sq, block_size=256), verify_md5=True)
    assert np.array_equal(out, sq)


def test_corrupt_crc_raises():
    s = np.arange(-500, 500, dtype=np.int16)
    buf = bytearray(encode_flac(s))
    buf[-1] ^= 0xFF  # frame CRC-16
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(buf))
    buf2 = bytearray(encode_flac(s))
    buf2[60] ^= 0x01  # inside subframe data → CRC mismatch somewhere
    with pytest.raises(ValueError):
        decode_flac(bytes(buf2))


# ---------------------------------------------------------- known-answer

def test_known_answer_midside_lpc_wasted_partitions_escape():
    """Hand-built per RFC 9639: mid/side stereo, LPC subframe (order 1,
    shift 1), wasted bits on the side channel, Rice partition order 1
    with an escaped second partition. Expected samples follow from the
    spec formulas alone."""
    left = [4, 6, 8, 10, 12, 14, 16, 18]
    right = [2, 2, 4, 4, 6, 6, 8, 8]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]     # [3,4,6,7,9,10,12,13]
    side = [l - r for l, r in zip(left, right)]           # [2,4,4,6,6,8,8,10]

    w = W()
    frame_header(w, bs=8, ch_code=0b1010)  # mid/side
    hdr = w.bytes()
    w.w(crc8(hdr), 8)

    # subframe 0: mid, bps 16, LPC order 1, coef [2], shift 1
    # pred[i] = (2 * mid[i-1]) >> 1 = mid[i-1]; resid = diff(mid)
    w.w(0, 1); w.w(0b100000, 6); w.w(0, 1)   # LPC order 1, no wasted
    w.w(mid[0] & 0xFFFF, 16)                 # warmup
    w.w(4 - 1, 4)                            # precision 4
    w.w(1, 5)                                # shift 1
    w.w(2, 4)                                # coef 2 (4-bit signed)
    resid0 = [mid[i] - mid[i - 1] for i in range(1, 8)]  # [1,2,1,2,1,2,1]
    w.w(0b00, 2); w.w(0, 4); w.w(1, 4)       # rice4, po=0, param 1
    for v in resid0:
        z = _zz(v)
        w.unary(z >> 1); w.w(z, 1)

    # subframe 1: side, bps 17 (+1), ALL values even → 1 wasted bit.
    # coded values side>>1 = [1,2,2,3,3,4,4,5] at 16 bits, FIXED order 1,
    # partition order 1: first partition 8/2-1=3 resid, second 4 (escaped)
    sh = [v >> 1 for v in side]
    w.w(0, 1); w.w(0b001001, 6); w.w(1, 1)   # FIXED 1, wasted flag
    w.unary(0)                               # wasted = 0 zeros + 1 = 1
    w.w(sh[0] & 0xFFFF, 16)                  # warmup at 17-1=16 bits
    resid1 = [sh[i] - sh[i - 1] for i in range(1, 8)]  # [1,0,1,0,1,0,1]
    w.w(0b00, 2); w.w(1, 4)                  # rice4, po=1
    w.w(1, 4)                                # partition 1: param 1
    for v in resid1[:3]:
        z = _zz(v)
        w.unary(z >> 1); w.w(z, 1)
    w.w(0b1111, 4); w.w(4, 5)                # partition 2: escape, 4-bit raw
    for v in resid1[3:]:
        w.w(v & 0xF, 4)

    while len(w.bits) % 8:
        w.w(0, 1)
    frame = w.bytes()
    stream = (streaminfo(8, 16000, 2, 16, 8) + frame
              + struct.pack(">H", crc16(frame)))
    out = decode_flac(stream)
    assert out.shape == (8, 2)
    assert out[:, 0].tolist() == left and out[:, 1].tolist() == right


def test_known_answer_leftside_verbatim_constant():
    """left/side: left VERBATIM, side CONSTANT (+1 bit) → right = l - s."""
    left = [100, -5, 77, 3]
    w = W()
    frame_header(w, bs=4, ch_code=0b1000)  # left/side
    w.w(crc8(w.bytes()), 8)
    w.w(0, 1); w.w(0b000001, 6); w.w(0, 1)  # VERBATIM, bps 16
    for v in left:
        w.w(v & 0xFFFF, 16)
    w.w(0, 1); w.w(0b000000, 6); w.w(0, 1)  # CONSTANT, bps 17
    w.w(5 & 0x1FFFF, 17)
    while len(w.bits) % 8:
        w.w(0, 1)
    frame = w.bytes()
    stream = (streaminfo(4, 8000, 2, 16, 4) + frame
              + struct.pack(">H", crc16(frame)))
    out = decode_flac(stream)
    assert out[:, 0].tolist() == left
    assert out[:, 1].tolist() == [v - 5 for v in left]


def test_known_answer_rightside_fixed0():
    """right/side: ch0 = side (+1 bit) FIXED order 0, ch1 = right →
    left = right + side."""
    right = [10, 20, 30, 40]
    side = [1, -2, 3, -4]
    w = W()
    frame_header(w, bs=4, ch_code=0b1001)
    w.w(crc8(w.bytes()), 8)
    # subframe 0: side at 17 bits, FIXED order 0 → resid = values
    w.w(0, 1); w.w(0b001000, 6); w.w(0, 1)
    w.w(0b00, 2); w.w(0, 4); w.w(2, 4)
    for v in side:
        z = _zz(v)
        w.unary(z >> 2); w.w(z, 2)
    # subframe 1: right VERBATIM at 16 bits
    w.w(0, 1); w.w(0b000001, 6); w.w(0, 1)
    for v in right:
        w.w(v & 0xFFFF, 16)
    while len(w.bits) % 8:
        w.w(0, 1)
    frame = w.bytes()
    stream = (streaminfo(4, 8000, 2, 16, 4) + frame
              + struct.pack(">H", crc16(frame)))
    out = decode_flac(stream)
    assert out[:, 1].tolist() == right
    assert out[:, 0].tolist() == [r + s for r, s in zip(right, side)]


def test_coded_number_roundtrip_large_frame_index():
    """Frames beyond index 127 exercise the multi-byte UTF-8-style coded
    number on both sides (encoder writes it, decoder parses it)."""
    # 130 blocks of 192 samples → frame numbers up to 129 (2-byte coding)
    s = (np.arange(130 * 192) % 251 - 125).astype(np.int16)
    out = decode_flac(encode_flac(s, block_size=192), verify_md5=True)
    assert np.array_equal(out, s)


def test_truncated_metadata_and_bad_partition_order_raise():
    """A stream cut inside its metadata, and a residual whose partition
    order does not divide the block size (RFC 9639 forbids it), are both
    rejected with ValueError naming the fault."""
    stream = encode_flac(np.arange(64, dtype=np.int16))
    for cut in (5, 8, 20, 41):
        with pytest.raises(ValueError, match="truncated metadata"):
            decode_flac(stream[:cut])

    w = W()
    frame_header(w, bs=6, ch_code=0b0000)    # mono, 6 samples
    w.w(crc8(w.bytes()), 8)
    w.w(0, 1); w.w(0b001000, 6); w.w(0, 1)   # FIXED order 0
    w.w(0b00, 2); w.w(2, 4)                  # rice4, po=2: 6 % 4 != 0
    for _ in range(4):
        w.w(0, 4); w.unary(0); w.unary(0)
    while len(w.bits) % 8:
        w.w(0, 1)
    frame = w.bytes()
    bad = (streaminfo(6, 8000, 1, 16, 6) + frame
           + struct.pack(">H", crc16(frame)))
    with pytest.raises(ValueError, match="not divisible"):
        decode_flac(bad)
