"""Wire primitives shared by the from-scratch decoders and their
fixture encoders: LEB128 varints and their zigzag form, one bit reader
and one bit writer per bit order, and the MSB-first CRC-32.

Every decode error here is a ``ValueError``. A varint is at most 10
bytes, so a run of continuation bytes fails at the 11th byte instead
of growing an integer for the rest of the input. Format rules stay with
their callers: xz's 9-byte cap, git's 4-bit first size group, int64
two's complement, and whether skipped padding bits must be zero.
"""

from __future__ import annotations

import numpy as np


def uvarint(data, pos: int, end: int | None = None) -> tuple[int, int]:
    """LEB128 unsigned varint at ``pos`` -> (value, next position): the
    varint of protobuf, ORC, Avro, Kafka, LevelDB, Thrift compact,
    snappy, xz and git. Raises ValueError when the bytes run out before
    ``end`` (default ``len(data)``) or a 10th byte still continues."""
    if end is None:
        end = len(data)
    v = shift = 0
    while pos < end:
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint: too long")
    raise ValueError("varint: truncated")


def unzigzag(u: int) -> int:
    """Zigzag decode: 0, 1, 2, 3, ... -> 0, -1, 1, -2, ..."""
    return (u >> 1) ^ -(u & 1)


def svarint(data, pos: int) -> tuple[int, int]:
    """Zigzag-decoded ``uvarint``: the signed varint of protobuf
    sint64, ORC, Avro, Kafka and Thrift compact."""
    v, pos = uvarint(data, pos)
    return unzigzag(v), pos


def uvarints(data) -> list[int]:
    """Every ``uvarint`` of a packed repeated field, to the last byte."""
    out = []
    pos, end = 0, len(data)
    while pos < end:
        v, pos = uvarint(data, pos, end)
        out.append(v)
    return out


def _enc_uvarint(v: int) -> bytes:
    """LEB128, the inverse of ``uvarint``. Negative values must be
    masked or zigzagged first."""
    if v < 0:
        raise ValueError("varint: negative value")
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _zz_enc(v: int) -> bytes:
    """Zigzag varint of a signed 64-bit value, the inverse of
    ``svarint``."""
    return _enc_uvarint((v << 1) ^ (v >> 63))


class MsbReader:
    """MSB-first bit reader (FLAC, ORC RLEv2, bzip2, TIFF LZW). ``pos``
    is the current byte and ``bit`` the count of its bits already
    read."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data, pos: int = 0):
        self.data = data
        self.pos = pos
        self.bit = 0

    def read(self, n: int) -> int:
        data, pos, bit = self.data, self.pos, self.bit
        v = 0
        while n:
            if pos >= len(data):
                raise ValueError("bits: truncated")
            avail = 8 - bit
            if n < avail:
                v = (v << n) | ((data[pos] >> (avail - n)) & ((1 << n) - 1))
                bit += n
                break
            v = (v << avail) | (data[pos] & ((1 << avail) - 1))
            n -= avail
            pos += 1
            bit = 0
        self.pos, self.bit = pos, bit
        return v

    def read_signed(self, n: int) -> int:
        """``n``-bit two's complement."""
        v = self.read(n)
        if n and v >> (n - 1):
            v -= 1 << n
        return v

    def read_unary(self) -> int:
        """Count of 0 bits before the next 1 bit."""
        q = 0
        while not self.read(1):
            q += 1
            if q > 1 << 20:
                raise ValueError("bits: runaway unary")
        return q

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits."""
        return self.read(8 - self.bit) if self.bit else 0

    def take_np(self, count: int, width: int):
        """``count`` unsigned ``width``-bit values (width <= 64) from
        the current bit position, as a uint64 array, in one numpy
        unpack; advances the reader."""
        if count < 0 or not 0 <= width <= 64:
            raise ValueError("bits: bad unpack shape")
        if width == 0:
            return np.zeros(count, np.uint64)
        total = count * width
        start = self.pos * 8 + self.bit
        end = start + total
        if end > len(self.data) * 8:
            raise ValueError("bits: truncated")
        sb = start // 8
        chunk = np.frombuffer(self.data, np.uint8, (end + 7) // 8 - sb, sb)
        off = start - sb * 8
        bits = np.unpackbits(chunk)[off : off + total]
        w = np.left_shift(
            np.uint64(1), np.arange(width - 1, -1, -1, dtype=np.uint64)
        )
        self.pos, self.bit = end // 8, end % 8
        return bits.reshape(count, width).astype(np.uint64) @ w


class LsbReader:
    """LSB-first bit reader (DEFLATE, GIF LZW). A byte enters the
    accumulator only when a read needs it, so after every read fewer
    than 8 bits are buffered and ``pos`` is the next unread byte."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data, pos: int = 0):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        acc, nbits, pos = self.acc, self.nbits, self.pos
        while nbits < n:
            if pos >= len(self.data):
                raise ValueError("bits: truncated")
            acc |= self.data[pos] << nbits
            nbits += 8
            pos += 1
        self.acc, self.nbits, self.pos = acc >> n, nbits - n, pos
        return acc & ((1 << n) - 1)

    def align(self) -> None:
        """Drop the buffered bits of the current byte."""
        self.acc = self.nbits = 0


class MsbWriter:
    """MSB-first bit writer, the inverse of ``MsbReader``."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int):
        if n == 0:
            return
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_signed(self, value: int, n: int):
        self.write(value & ((1 << n) - 1), n)

    def write_unary(self, q: int):
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self):
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def write_bits_np(self, bits) -> None:
        """Append a 0/1 uint8 array of bits (MSB-first stream order),
        byte-identical to the equivalent sequence of write() calls:
        buffered partial bits are prepended, whole bytes leave via one
        np.packbits, the tail stays buffered."""
        nb = self.nbits
        if nb:
            lead = np.empty(nb + len(bits), np.uint8)
            for k in range(nb):
                lead[k] = (self.acc >> (nb - 1 - k)) & 1
            lead[nb:] = bits
            bits = lead
        n_full = len(bits) & ~7
        if n_full:
            self.buf += np.packbits(bits[:n_full]).tobytes()
        acc = 0
        for b in bits[n_full:].tolist():
            acc = (acc << 1) | int(b)
        self.acc = acc
        self.nbits = len(bits) - n_full

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class LsbWriter:
    """LSB-first bit writer, the inverse of ``LsbReader``."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        """Zero-pad the last byte and return everything written."""
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# CRC-32 with poly 0x04C11DB7, MSB-first (unreflected): bzip2 and Ogg.
# zip/gzip/PNG use the reflected form, which is zlib.crc32.
_CRC32_MSB = []
for _b in range(256):
    _c = _b << 24
    for _ in range(8):
        _c = ((_c << 1) ^ 0x04C11DB7) if _c & 0x80000000 else (_c << 1)
        _c &= 0xFFFFFFFF
    _CRC32_MSB.append(_c)


def crc32_msb(data, crc: int = 0) -> int:
    """Unreflected CRC-32 of ``data`` from register ``crc``, with no
    final xor (Ogg's page CRC as is; bzip2 inits and xors 0xFFFFFFFF)."""
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC32_MSB[(crc >> 24) ^ b]
    return crc
