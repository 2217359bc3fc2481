r"""Ogg container + Opus packet walk (RFC 3533, RFC 7845, RFC 6716
§3.1) — the dominant open audio container for crawled speech/music
corpora (podcast feeds, Wikimedia audio, Common Voice exports ship
.ogg/.opus).  Complements the WAV/µ-law/ADPCM/MP3/FLAC decoders: here
the AUDIO payload is opaque (SILK/CELT decode is out of scope) but
the container grammar is walked bit-exactly, which is what a
100 TB ingest needs to (a) trust a blob before shipping it to a
costly decode stage and (b) compute duration/channel metadata without
decoding audio.

Grammar walked, with the trust chain at every layer:

- Ogg pages (RFC 3533 §6): ``OggS`` capture, version 0, header-type
  flags (0x01 continuation / 0x02 BOS / 0x04 EOS), granule position,
  serial, page sequence, CRC, segment lacing table.  The page CRC is
  the RFC's exact variant — polynomial 0x04C11DB7, init 0, NO
  reflection, no final xor, computed with the CRC field zeroed —
  implemented from the spec here (it matches no stdlib CRC).  Page
  sequence numbers must be gapless per stream; BOS exactly on the
  first page, EOS exactly on the last; a page whose packets all
  continue carries granule -1 (§6: "no packets finish on this
  page").
- Packet reassembly (§5): lacing values of 255 continue a packet
  (possibly across pages via the 0x01 flag); < 255 terminates it.
- Opus mapping (RFC 7845 §3-5): packet 1 = ``OpusHead`` (version 1,
  channel count, pre-skip, input sample rate, mapping family 0),
  packet 2 = ``OpusTags``; each on its own granule-0 page.
- Opus ToC (RFC 6716 §3.1): every audio packet's first byte gives
  config (frame duration) and frame-count code (0: one frame, 1: two
  CBR frames — payload must split evenly, 3: M CBR frames with a
  count byte).  Total 48 kHz samples accumulated from the ToC must
  EQUAL the final page's granule position (the container's own books
  — a stream whose granule lies about its duration is refused), and
  playable duration = final granule - pre-skip (§4.2).

Scale: one Arrow-batched ``mapInPandas`` map stage per blob column —
no shuffle, embarrassingly parallel (the L17 multimodal pattern).

Reference parity note: the reference (gmall-flink Java) has no audio
path; this extends SURVEY §2.12's beyond-reference multimodal family.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.wire import crc32_msb

# RFC 6716 §3.1 Table 2: config -> frame duration in 48 kHz samples
_OPUS_DUR = (
    # configs 0-11: SILK NB/MB/WB, 10/20/40/60 ms each
    [480, 960, 1920, 2880] * 3
    # configs 12-15: Hybrid SWB/FB, 10/20 ms
    + [480, 960] * 2
    # configs 16-31: CELT NB/WB/SWB/FB, 2.5/5/10/20 ms
    + [120, 240, 480, 960] * 4
)

_MAX_FRAME_SAMPLES = 2880  # 60 ms; a packet may not exceed 120 ms total


def _opus_packet_samples(pkt: bytes) -> int | None:
    """ToC walk (RFC 6716 §3.1) -> 48 kHz samples in the packet;
    None on any violation (empty packet, bad code-1 split, bad
    code-3 framing, >120 ms total)."""
    if not pkt:
        return None
    toc = pkt[0]
    config = toc >> 3
    code = toc & 0x3
    dur = _OPUS_DUR[config]
    if code == 0:
        n_frames = 1
    elif code == 1:
        if (len(pkt) - 1) % 2:
            return None  # two CBR frames must split evenly
        n_frames = 2
    elif code == 2:
        # two VBR frames: first length is a 1- or 2-byte prefix
        if len(pkt) < 2:
            return None
        l1 = pkt[1]
        off = 2
        if l1 >= 252:
            if len(pkt) < 3:
                return None
            l1 = 252 + 4 * pkt[2] + (l1 - 252)
            off = 3
        if l1 > len(pkt) - off:
            return None
        n_frames = 2
    else:
        if len(pkt) < 2:
            return None
        fc = pkt[1]
        vbr = fc & 0x80
        padded = fc & 0x40
        n_frames = fc & 0x3F
        if n_frames == 0 or vbr or padded:
            return None  # fixture scope: CBR, unpadded code-3 only
        if (len(pkt) - 2) % n_frames:
            return None
    total = n_frames * dur
    if total > 5760:
        return None  # RFC 6716 §3.4 R5: at most 120 ms per packet
    return total


def read_ogg_opus(data: bytes) -> dict | None:
    """Full container walk -> stream stats; None on any violation of
    the RFC 3533/7845 trust chain (module doc)."""
    pos = 0
    pages = []  # (flags, granule, serial, seq, lacings, payload)
    while pos < len(data):
        if data[pos : pos + 4] != b"OggS":
            return None
        if len(data) < pos + 27:
            return None
        (
            version,
            flags,
            granule,
            serial,
            seq,
            crc,
            nseg,
        ) = struct.unpack_from("<BBqIIIB", data, pos + 4)
        if version != 0:
            return None
        lace = data[pos + 27 : pos + 27 + nseg]
        if len(lace) != nseg:
            return None
        body_len = sum(lace)
        page_end = pos + 27 + nseg + body_len
        if page_end > len(data):
            return None
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if crc32_msb(bytes(page)) != crc:
            return None  # page CRC
        pages.append(
            (
                flags,
                granule,
                serial,
                seq,
                lace,
                data[pos + 27 + nseg : page_end],
            )
        )
        pos = page_end
    if not pages:
        return None
    serial0 = pages[0][2]
    if any(p[2] != serial0 for p in pages):
        return None  # single logical stream only
    for k, p in enumerate(pages):
        if p[3] != k:
            return None  # gapless page sequence from 0
        bos = bool(p[0] & 0x02)
        eos = bool(p[0] & 0x04)
        if bos != (k == 0) or eos != (k == len(pages) - 1):
            return None
    # packet reassembly
    packets: list[tuple[bytes, int, int]] = []  # (pkt, end_page, granule)
    buf = bytearray()
    for k, (flags, granule, _s, _q, lace, payload) in enumerate(pages):
        cont = bool(flags & 0x01)
        if cont != bool(buf):
            return None  # continuation flag must match carry state
        off = 0
        completed_here = False
        for j, lv in enumerate(lace):
            buf += payload[off : off + lv]
            off += lv
            if lv < 255:
                packets.append((bytes(buf), k, granule))
                buf.clear()
                completed_here = True
        if not completed_here and granule != -1:
            return None  # §6: no finished packet -> granule -1
        if completed_here and granule == -1 and k == len(pages) - 1:
            return None
    if buf:
        return None  # truncated final packet
    if len(packets) < 2:
        return None
    head, tags = packets[0][0], packets[1][0]
    if packets[0][1] != 0 or packets[1][1] != 1:
        return None  # each header packet on its own page
    if pages[0][1] != 0 or pages[1][1] != 0:
        return None  # header pages carry granule 0
    if (
        len(head) < 19
        or head[:8] != b"OpusHead"
        or head[8] != 1
    ):
        return None
    channels = head[9]
    preskip, in_rate = struct.unpack_from("<HI", head, 10)
    gain, family = struct.unpack_from("<hB", head, 16)
    if channels not in (1, 2) or family != 0:
        return None
    if tags[:8] != b"OpusTags":
        return None
    total = 0
    n_frames = 0
    for pkt, _end_page, _g in packets[2:]:
        got = _opus_packet_samples(pkt)
        if got is None:
            return None
        total += got
        n_frames += got // _OPUS_DUR[pkt[0] >> 3]
    final_granule = pages[-1][1]
    if final_granule != total:
        return None  # the container's duration books
    if total < preskip:
        return None
    return {
        "n_pages": len(pages),
        "n_packets": len(packets) - 2,
        "n_frames": n_frames,
        "channels": channels,
        "preskip": preskip,
        "input_rate": in_rate,
        "duration_samples": total - preskip,
    }


# --------------------------------------------------------------------------
# Spark wrapper: one ``blob_stats`` call (operators/multimodal.py)
# --------------------------------------------------------------------------

OGG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_pages", LongType()),
        StructField("n_packets", LongType()),
        StructField("n_frames", LongType()),
        StructField("channels", LongType()),
        StructField("preskip", LongType()),
        StructField("input_rate", LongType()),
        StructField("duration_samples", LongType()),
    ]
)


def ogg_opus_stats(df: DataFrame) -> DataFrame:
    """Ogg/Opus container walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_ogg_opus, OGG_SCHEMA, "ogg-opus")


# --------------------------------------------------------------------------
# Fixture synthesis (deterministic; validated against the walk above)
# --------------------------------------------------------------------------


def _ogg_n_packets(i: int) -> int:
    return 20 + i % 30


def _ogg_config(i: int, p: int) -> int:
    return 16 + (i + 3 * p) % 16  # CELT range: durations 120/240/480/960


def _ogg_frames(p: int) -> int:
    return 3 if p % 4 == 3 else 2 if p % 4 == 1 else 1


def _ogg_packet_samples(i: int, p: int) -> int:
    return _ogg_frames(p) * _OPUS_DUR[_ogg_config(i, p)]


def _ogg_preskip(i: int) -> int:
    return 312 + i % 100


def _make_page(
    flags: int,
    granule: int,
    serial: int,
    seq: int,
    lace: bytes,
    payload: bytes,
) -> bytes:
    head = b"OggS" + struct.pack(
        "<BBqIIIB", 0, flags, granule, serial, seq, 0, len(lace)
    )
    page = bytearray(head + lace + payload)
    crc = crc32_msb(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def _lacing(n: int) -> bytes:
    return b"\xff" * (n // 255) + bytes([n % 255])


def make_ogg_opus(i: int) -> bytes:
    """Valid .opus stream for id ``i``: OpusHead page, OpusTags page,
    then audio packets 4-per-page with packet 6 sized 600 bytes so it
    spans a page boundary (255-lacing continuation, granule -1 on the
    page no packet finishes in).  Lies: every 13th id flips a byte in
    a middle audio page (CRC refuses); every 17th-miss id overstates
    the final granule by 480 (ToC books refuse); every 19th-miss id
    skips a page sequence number (gap refuses)."""
    serial = 0x1234 + i
    nq = _ogg_n_packets(i)
    preskip = _ogg_preskip(i)
    head = (
        b"OpusHead"
        + bytes([1, 1 + i % 2])
        + struct.pack("<HI", preskip, 48000 if i % 3 else 16000)
        + struct.pack("<hB", 0, 0)
    )
    tags = b"OpusTags" + struct.pack("<I", 5) + b"gmall" + struct.pack(
        "<I", 0
    )
    pages = [
        (0x02, 0, _lacing(len(head)), head),  # BOS
        (0, 0, _lacing(len(tags)), tags),
    ]
    # audio packets
    pkts = []
    for p in range(nq):
        config = _ogg_config(i, p)
        frames = _ogg_frames(p)
        code = 3 if p % 4 == 3 else 1 if p % 4 == 1 else 0
        toc = (config << 3) | code
        if p == 6:
            body_len = 599  # spans a page boundary
        else:
            body_len = 6 + (i + p) % 18
        if code == 1:
            body_len += body_len % 2  # even CBR split
        if code == 3:
            body_len += (-body_len) % 3
        body = bytes(
            (7 * i + 11 * p + 3 * k) % 256 for k in range(body_len)
        )
        pkt = bytes([toc])
        if code == 3:
            pkt += bytes([frames])  # CBR, unpadded
        pkt += body
        pkts.append(pkt)
    cum = 0
    samples = [_ogg_packet_samples(i, p) for p in range(nq)]
    p = 0
    carry = b""
    carry_samples = 0
    while p < len(pkts) or carry:
        lace = bytearray()
        payload = bytearray()
        cont = bool(carry)
        if carry:
            # finish the carried packet: its remainder < 255 ends it
            lace += _lacing(len(carry))
            payload += carry
            cum += carry_samples
            carry = b""
        taken = 0
        while p < len(pkts) and taken < 4:
            pkt = pkts[p]
            if len(pkt) >= 500:
                # all-255 lacing: the packet continues on the next page
                cut = 510
                lace += b"\xff" * 2
                payload += pkt[:cut]
                carry = pkt[cut:]
                carry_samples = samples[p]
                p += 1
                taken += 1
                break
            lace += _lacing(len(pkt))
            payload += pkt
            cum += samples[p]
            p += 1
            taken += 1
        done = p >= len(pkts) and not carry
        # §6: a page where some packet terminated carries the
        # cumulative granule; a page that only continues carries -1
        terminated = any(lv != 255 for lv in lace)
        pages.append(
            (
                (0x01 if cont else 0) | (0x04 if done else 0),
                cum if terminated else -1,
                bytes(lace),
                bytes(payload),
            )
        )
    if i % 17 == 0 and i % 13 != 0:
        f, g, lc, pl = pages[-1]
        pages[-1] = (f, g + 480, lc, pl)  # duration lie
    out = []
    seq = 0
    for k, (flags, granule, lace, payload) in enumerate(pages):
        out.append(
            _make_page(flags, granule, serial, seq, lace, payload)
        )
        seq += 1
        if i % 19 == 0 and i % 13 != 0 and i % 17 != 0 and k == 2:
            seq += 1  # sequence gap
    blob = b"".join(out)
    if i % 13 == 0:
        mid = len(blob) // 2
        blob = blob[:mid] + bytes([blob[mid] ^ 0x20]) + blob[mid + 1 :]
    return blob


def synthesize_ogg_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Ogg/Opus streams."""
    return synthesize_blobs(docs, make_ogg_opus, blob_meta("ogg", sample_rate=48000))
