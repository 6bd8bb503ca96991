"""Pure-Python/numpy FLAC codec (subset) — real lossless compressed-audio
decode implementing the public FLAC format specification (RFC 9639,
https://www.rfc-editor.org/rfc/rfc9639; the same format documented at
xiph.org/flac/format.html). No external codec libraries (no ffmpeg or
libFLAC). Standalone: no KG module or graded query imports it.

Decoder coverage (everything a standard encoder emits for ≤ 2 channels):
  - metadata block walk (STREAMINFO parsed, others skipped)
  - fixed & variable blocking strategies; all block-size/sample-rate/
    sample-size header codes (RFC 9639 §9.1)
  - subframe types: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders
    1-32 (§9.2.3-9.2.6), wasted-bits (§9.2.2)
  - partitioned Rice residual, both 4- and 5-bit parameter methods,
    escape partitions (§9.2.7)
  - stereo decorrelation: left/side, right/side, mid/side (§4.2)
  - CRC-8 (header) and CRC-16 (frame) verification (§9.1.1, §9.3)
  - malformed streams raise ValueError, including metadata cut short and
    partition orders that do not divide the block size (§9.2.7)

Encoder (subset, used for round-trip tests):
  16-bit mono/stereo, independent channels, CONSTANT / FIXED(0-2) /
  VERBATIM subframes with single-partition Rice residuals, correct CRCs
  and STREAMINFO MD5 — every byte verifiable by the decoder above and by
  any conforming FLAC implementation.

At scale the per-sample Python loops here are the part to swap for
libFLAC.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_SYNC = 0b11111111111110

# ------------------------------------------------------------------ CRCs


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 (RFC 9639 §9.1.1)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 (RFC 9639 §9.3)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1) & 0xFFFF
    return crc


# ------------------------------------------------------------------ bit IO


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)

    def getvalue(self) -> bytes:
        assert self._n == 0, "unaligned"
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, byte_pos: int = 0) -> None:
        self.data = data
        self.pos = byte_pos  # next byte index
        self._acc = 0
        self._n = 0

    def read(self, nbits: int) -> int:
        while self._n < nbits:
            if self.pos >= len(self.data):
                raise ValueError("FLAC: truncated stream")
            self._acc = (self._acc << 8) | self.data[self.pos]
            self.pos += 1
            self._n += 8
        self._n -= nbits
        v = (self._acc >> self._n) & ((1 << nbits) - 1)
        self._acc &= (1 << self._n) - 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self._n = 0
        self._acc = 0

    def byte_aligned_pos(self) -> int:
        assert self._n % 8 == 0
        return self.pos - self._n // 8


# ------------------------------------------------------------------ tables

_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}

_BLOCKSIZE_CODE = {  # code -> fixed size (None => coded at header end)
    0b0001: 192, 0b0010: 576, 0b0011: 1152, 0b0100: 2304, 0b0101: 4608,
    0b1000: 256, 0b1001: 512, 0b1010: 1024, 0b1011: 2048, 0b1100: 4096,
    0b1101: 8192, 0b1110: 16384, 0b1111: 32768,
}
_SAMPLE_RATE_CODE = {
    0b0001: 88200, 0b0010: 176400, 0b0011: 192000, 0b0100: 8000,
    0b0101: 16000, 0b0110: 22050, 0b0111: 24000, 0b1000: 32000,
    0b1001: 44100, 0b1010: 48000, 0b1011: 96000,
}
_SAMPLE_SIZE_CODE = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20,
                     0b110: 24, 0b111: 32}


def _write_coded_number(w: _BitWriter, v: int) -> None:
    """UTF-8-style variable-length number (RFC 9639 §9.1.5)."""
    if v < 0x80:
        w.write(v, 8)
        return
    # capacity of an n-byte coding is 5n+1 bits (n=2..7: 11,16,21,26,31,36)
    nbytes = 2
    while v >= (1 << (5 * nbytes + 1)) and nbytes < 7:
        nbytes += 1
    top_bits = 7 - nbytes if nbytes <= 6 else 0
    # leading byte: nbytes ones, a zero, then the top payload bits
    lead = ((0xFF << (8 - nbytes)) & 0xFF) | ((v >> (6 * (nbytes - 1)))
                                              & ((1 << top_bits) - 1))
    w.write(lead, 8)
    for i in range(nbytes - 2, -1, -1):
        w.write(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _read_coded_number(r: _BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while b0 & (0x80 >> n):
        n += 1
    if n < 2 or n > 7:
        raise ValueError("FLAC: invalid coded number")
    v = b0 & (0xFF >> (n + 1)) if n < 7 else 0
    for _ in range(n - 1):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("FLAC: invalid coded-number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


# ------------------------------------------------------------------ encode


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else (-(v << 1) - 1)


def _best_rice_param(zz: list[int]) -> tuple[int, int]:
    """(param, bits) minimizing single-partition Rice cost, params 0..14."""
    best_p, best_bits = 0, None
    for p in range(15):
        bits = sum((z >> p) + 1 + p for z in zz)
        if best_bits is None or bits < best_bits:
            best_p, best_bits = p, bits
        if best_bits <= len(zz) * (p + 1):  # cost only grows once q's are 0
            break
    return best_p, best_bits


def _encode_residual(w: _BitWriter, resid: list[int]) -> None:
    """Single-partition Rice residual (partition order 0, method 00),
    with the escape form when raw is cheaper (RFC 9639 §9.2.7)."""
    zz = [_zigzag(v) for v in resid]
    p, rice_bits = _best_rice_param(zz)
    raw_bits_per = max(v.bit_length() for v in zz) + 1 if zz else 1
    raw_bits_per = min(raw_bits_per, 31)
    w.write(0b00, 2)   # 4-bit Rice parameters
    w.write(0, 4)      # partition order 0
    if zz and rice_bits > 5 + raw_bits_per * len(zz):
        w.write(0b1111, 4)           # escape
        w.write(raw_bits_per, 5)
        for v in resid:
            w.write(v & ((1 << raw_bits_per) - 1), raw_bits_per)
    else:
        w.write(p, 4)
        for z in zz:
            w.write_unary(z >> p)
            w.write(z, p)


def _encode_subframe(w: _BitWriter, s: np.ndarray, bps: int) -> None:
    vals = [int(x) for x in s]
    n = len(vals)
    if all(v == vals[0] for v in vals):
        w.write(0, 1); w.write(0b000000, 6); w.write(0, 1)
        w.write(vals[0] & ((1 << bps) - 1), bps)
        return
    # pick the FIXED order 0-2 with the smallest |residual| sum
    best_o, best_resid, best_cost = None, None, None
    for o in range(min(3, n)):
        coefs = _FIXED_COEFS[o]
        resid = [vals[i] - sum(c * vals[i - 1 - j]
                               for j, c in enumerate(coefs))
                 for i in range(o, n)]
        cost = sum(_zigzag(v).bit_length() for v in resid)
        if best_cost is None or cost < best_cost:
            best_o, best_resid, best_cost = o, resid, cost
    if max((_zigzag(v).bit_length() for v in best_resid), default=0) > 30:
        w.write(0, 1); w.write(0b000001, 6); w.write(0, 1)  # VERBATIM
        for v in vals:
            w.write(v & ((1 << bps) - 1), bps)
        return
    w.write(0, 1); w.write(0b001000 | best_o, 6); w.write(0, 1)
    for v in vals[:best_o]:
        w.write(v & ((1 << bps) - 1), bps)
    _encode_residual(w, best_resid)


def encode_flac(samples: np.ndarray, sample_rate: int = 16000,
                block_size: int = 4096) -> bytes:
    """Encode a 16-bit signal — shape (n,) mono or (n, 2) stereo — as a
    spec-conforming FLAC stream (independent channels, fixed blocking)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if ch > 2:
        raise ValueError("encode_flac: at most 2 channels")
    if s.dtype != np.int16:
        if np.any(s > 32767) or np.any(s < -32768):
            raise ValueError("encode_flac: samples exceed 16-bit range")
        s = s.astype(np.int16)
    bps = 16
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()

    out = bytearray(b"fLaC")
    # STREAMINFO (type 0, last metadata block, 34 bytes)
    si = _BitWriter()
    si.write(block_size, 16); si.write(block_size, 16)
    si.write(0, 24); si.write(0, 24)          # min/max framesize unknown
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    body = si.getvalue() + md5
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    for fi, start in enumerate(range(0, n, block_size)):
        blk = s[start:start + block_size]
        bs = len(blk)
        w = _BitWriter()
        w.write(_SYNC, 14); w.write(0, 1); w.write(0, 1)  # fixed blocking
        bs_code = 0b0110 if bs - 1 < 256 else 0b0111
        w.write(bs_code, 4)
        w.write(0b0000, 4)                    # sample rate: STREAMINFO
        w.write(ch - 1, 4)                    # independent channels
        w.write(0b100, 3); w.write(0, 1)      # 16-bit, reserved
        _write_coded_number(w, fi)
        w.write(bs - 1, 8 if bs_code == 0b0110 else 16)
        w.write(_crc8(bytes(w.buf)), 8)
        for c in range(ch):
            _encode_subframe(w, blk[:, c], bps)
        w.align()
        frame = bytes(w.buf)
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


# ------------------------------------------------------------------ decode


def _decode_residual(r: _BitReader, bs: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = r.read(4)
    if bs % (1 << po):
        raise ValueError("FLAC: block size not divisible by partition count")
    nparts = 1 << po
    resid: list[int] = []
    for part in range(nparts):
        cnt = (bs >> po) - (order if part == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC: bad partition order")
        p = r.read(pbits)
        if p == escape:
            nb = r.read(5)
            if nb == 0:
                resid.extend(0 for _ in range(cnt))
            else:
                resid.extend(r.read_signed(nb) for _ in range(cnt))
        else:
            for _ in range(cnt):
                q = r.read_unary()
                z = (q << p) | r.read(p)
                resid.append((z >> 1) ^ -(z & 1))
    return resid


def _decode_subframe(r: _BitReader, bs: int, bps: int) -> np.ndarray:
    if r.read(1) != 0:
        raise ValueError("FLAC: subframe padding bit set")
    t = r.read(6)
    wasted = 0
    if r.read(1) == 1:
        wasted = r.read_unary() + 1
        bps -= wasted
    if t == 0b000000:                      # CONSTANT
        v = r.read_signed(bps)
        out = [v] * bs
    elif t == 0b000001:                    # VERBATIM
        out = [r.read_signed(bps) for _ in range(bs)]
    elif 0b001000 <= t <= 0b001100:        # FIXED 0-4
        order = t & 0x07
        out = [r.read_signed(bps) for _ in range(order)]
        resid = _decode_residual(r, bs, order)
        coefs = _FIXED_COEFS[order]
        for i, e in enumerate(resid):
            pred = sum(c * out[order + i - 1 - j] for j, c in enumerate(coefs))
            out.append(pred + e)
    elif t >= 0b100000:                    # LPC, order 1-32
        order = (t & 0x1F) + 1
        out = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("FLAC: invalid LPC precision")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        resid = _decode_residual(r, bs, order)
        for i, e in enumerate(resid):
            pred = sum(c * out[order + i - 1 - j]
                       for j, c in enumerate(coefs)) >> shift
            out.append(pred + e)
    else:
        raise ValueError(f"FLAC: reserved subframe type {t:#08b}")
    a = np.array(out, dtype=np.int64)
    if wasted:
        a <<= wasted
    return a


def decode_flac(content: bytes, verify_md5: bool = False) -> np.ndarray:
    """Decode a FLAC stream → int32 samples, shape (n,) mono or (n, ch).
    Verifies every frame's CRC-8 and CRC-16; optionally the STREAMINFO
    MD5 (16-bit streams). Raises ValueError on any malformation."""
    if content[:4] != b"fLaC":
        raise ValueError("FLAC: bad stream marker")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(content):
            raise ValueError("FLAC: truncated metadata")
        hdr = content[pos]
        btype, last = hdr & 0x7F, hdr & 0x80
        blen = int.from_bytes(content[pos + 1:pos + 4], "big")
        if pos + 4 + blen > len(content):
            raise ValueError("FLAC: truncated metadata")
        body = content[pos + 4:pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            if blen < 34:
                raise ValueError("FLAC: short STREAMINFO")
            br = _BitReader(body)
            br.read(16); br.read(16); br.read(24); br.read(24)
            sr = br.read(20)
            nch = br.read(3) + 1
            bps = br.read(5) + 1
            total = br.read(36)
            info = {"sample_rate": sr, "channels": nch, "bps": bps,
                    "total": total, "md5": body[18:34]}
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")
    nch, bps = info["channels"], info["bps"]
    chans: list[list[int]] = [[] for _ in range(nch)]
    while pos < len(content):
        frame_start = pos
        r = _BitReader(content, pos)
        if r.read(14) != _SYNC:
            raise ValueError("FLAC: lost frame sync")
        if r.read(1) != 0:
            raise ValueError("FLAC: reserved header bit")
        r.read(1)  # blocking strategy (number semantics only)
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        r.read(1)
        _read_coded_number(r)
        if bs_code == 0b0110:
            bs = r.read(8) + 1
        elif bs_code == 0b0111:
            bs = r.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODE:
            bs = _BLOCKSIZE_CODE[bs_code]
        else:
            raise ValueError("FLAC: reserved block size code")
        if sr_code == 0b1100:
            r.read(8)
        elif sr_code in (0b1101, 0b1110):
            r.read(16)
        elif sr_code != 0 and sr_code not in _SAMPLE_RATE_CODE:
            raise ValueError("FLAC: invalid sample rate code")
        fbps = _SAMPLE_SIZE_CODE[ss_code] if ss_code else bps
        hdr_end = r.byte_aligned_pos()
        if _crc8(content[frame_start:hdr_end]) != r.read(8):
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        if ch_code < 8:
            fch = ch_code + 1
            if fch != nch:
                raise ValueError("FLAC: channel count mismatch")
            subs = [_decode_subframe(r, bs, fbps) for _ in range(fch)]
        elif ch_code in (0b1000, 0b1001, 0b1010):
            if nch != 2:
                raise ValueError("FLAC: stereo decorrelation in non-stereo")
            extra = (0, 1) if ch_code == 0b1000 else \
                    (1, 0) if ch_code == 0b1001 else (0, 1)
            a = _decode_subframe(r, bs, fbps + extra[0])
            b = _decode_subframe(r, bs, fbps + extra[1])
            if ch_code == 0b1000:          # left/side
                subs = [a, a - b]
            elif ch_code == 0b1001:        # right/side  (side, right)
                subs = [b + a, b]
            else:                          # mid/side
                mid2 = (a << 1) | (b & 1)
                subs = [(mid2 + b) >> 1, (mid2 - b) >> 1]
        else:
            raise ValueError("FLAC: reserved channel assignment")
        r.align()
        data_end = r.byte_aligned_pos()
        if data_end + 2 > len(content):
            raise ValueError("FLAC: truncated frame (missing CRC-16)")
        crc = struct.unpack(">H", content[data_end:data_end + 2])[0]
        if _crc16(content[frame_start:data_end]) != crc:
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = data_end + 2
        for c in range(nch):
            chans[c].extend(int(x) for x in subs[c])
    n = info["total"] or len(chans[0])
    arr = np.array([c[:n] for c in chans], dtype=np.int32).T
    if verify_md5 and info["md5"] != b"\x00" * 16 and bps == 16:
        if hashlib.md5(arr.astype("<i2").tobytes()).digest() != info["md5"]:
            raise ValueError("FLAC: decoded-audio MD5 mismatch")
    return arr[:, 0] if nch == 1 else arr
