"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Media lives as an opaque ``binary`` column with a typed metadata struct, and
``decode_media`` extracts features per Arrow batch with ``mapInPandas``.

Six containers decode with the stdlib alone: PNG (inflate + the five
unfilters), JPEG (DC-only baseline entropy decode), GIF (LZW, interlaced
too), WAV (8-bit PCM), FLAC (verbatim frames, CRC-8 checked) and MP4
(raw-PCM sample tables). Each has one generator that parses its header
once, yields the header facts, then walks its content and yields the
stats. Every header and length read goes through ``_Reader``, which raises
``_Malformed`` past the end of its span, as do the subset checks.
``_features`` is the one place that catches it: from a header it means
"not this container", and the next one is tried; from the content it
means NULL stats with the header facts kept. A payload in none of the six
gets a deterministic md5 stub when ``deterministic_fake`` is set, else
raises ``NotImplementedError``. The fixture builders live in
``data/media.py``.
"""

from __future__ import annotations

import hashlib
import itertools
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<n_bytes: bigint, mime: string, source: string>"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, "
    "width int, height int, duration_ms int, "
    "mean_luma double, max_luma int, nonzero_frac double, "
    "feature_hash string"
)
_FEATURE_COLS = ("width", "height", "duration_ms", "mean_luma", "max_luma", "nonzero_frac")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table: text bytes as the opaque payload.

    Stand-in for reading real image/audio blobs; kind cycles by doc_id so all
    downstream branches execute.
    """
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
            F.concat(kind, F.lit("/synthetic")).alias("mime"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


class _Malformed(Exception):
    """A read past the end of a span, or a payload outside a decoder's subset."""


def _require(ok: object) -> None:
    if not ok:
        raise _Malformed


class _Reader:
    """Bounds-checked cursor over ``buf[pos:end]``; every read advances it."""

    __slots__ = ("buf", "pos", "end")

    def __init__(self, buf: bytes, pos: int = 0, end: int | None = None):
        self.buf = buf
        self.pos = pos
        self.end = len(buf) if end is None else min(end, len(buf))

    def left(self) -> int:
        return self.end - self.pos

    def take(self, n: int) -> bytes:
        if n < 0 or n > self.end - self.pos:
            raise _Malformed
        self.pos += n
        return self.buf[self.pos - n : self.pos]

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self, order: str = "big") -> int:
        return int.from_bytes(self.take(2), order)

    def u32(self, order: str = "big") -> int:
        return int.from_bytes(self.take(4), order)

    def u64(self, order: str = "big") -> int:
        return int.from_bytes(self.take(8), order)


def _stats_round6(
    total: int, max_v: int, nonzero: int, n: int
) -> tuple[float, int, float]:
    """(mean, max, nonzero_frac) with INTEGER half-up rounding at 6 decimals.

    The one rounding rule of every content decoder. Exact .xxxxxx5 ties are
    reachable (a 16x8 image with one pixel of luma 1 has mean 0.0078125),
    and the integer form is bit-identical to the DuckDB oracle's
    re-derivation, where float ``round`` (half-even) is not.
    """
    return (
        ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
        max_v,
        ((2 * nonzero * 10**6 + n) // (2 * n)) / 1e6,
    )


_PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (filter 4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png(payload: bytes) -> Iterator[tuple]:
    """PNG: IHDR width/height, then a full pixel decode.

    The chunk walk collects the IDAT stream, ``zlib`` inflates it and the
    five scanline filters are inverted per row. Content covers the
    non-interlaced 8-bit gray, RGB, gray+alpha and RGBA types; luma is the
    gray channel, or the integer mean (r+g+b)//3 for color.
    """
    r = _Reader(payload)
    _require(r.take(8) == _PNG_SIGNATURE)
    r.take(4)  # IHDR length
    _require(r.take(4) == b"IHDR")
    width, height = r.u32(), r.u32()
    yield width, height, 0
    bit_depth, color_type, _comp, _filt, interlace = r.take(5)
    r.take(4)  # the IHDR CRC: the whole chunk must be there
    channels = _PNG_CHANNELS.get(color_type)
    _require(bit_depth == 8 and channels and interlace == 0 and width and height)
    r = _Reader(payload, 8)
    idat = bytearray()
    while r.left() >= 8:
        size, ctype = r.u32(), r.take(4)
        data = r.take(size)
        r.take(4)  # CRC
        if ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        raise _Malformed from None
    stride = width * channels
    _require(len(raw) == (stride + 1) * height)
    prev = bytearray(stride)
    total = luma_sum = nonzero = 0
    max_luma = 0
    for row in range(height):
        base = row * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise _Malformed  # invalid filter type
        for px in range(width):
            j = px * channels
            if channels >= 3:
                luma = (line[j] + line[j + 1] + line[j + 2]) // 3
            else:
                luma = line[j]
            luma_sum += luma
            nonzero += luma != 0
            if luma > max_luma:
                max_luma = luma
            total += 1
        prev = line
    yield _stats_round6(luma_sum, max_luma, nonzero, total)


_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}  # not DHT/JPG/DAC
_STANDALONE = frozenset({0x01, 0xD8}) | frozenset(range(0xD0, 0xD8))  # TEM/SOI/RSTn


def _build_huffman(counts: bytes, symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman table: (code_length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing."""

    def __init__(self, buf: bytes, off: int):
        self.buf = buf
        self.off = off
        self.cur = 0
        self.nbits = 0

    def read(self, n: int) -> int | None:
        while self.nbits < n:
            if self.off >= len(self.buf):
                return None
            b = self.buf[self.off]
            self.off += 1
            if b == 0xFF:
                nxt = self.buf[self.off] if self.off < len(self.buf) else None
                if nxt == 0x00:
                    self.off += 1  # stuffed byte
                else:
                    return None  # marker (EOI/RST/...) inside the scan
            self.cur = (self.cur << 8) | b
            self.nbits += 8
        self.nbits -= n
        out = (self.cur >> self.nbits) & ((1 << n) - 1)
        self.cur &= (1 << self.nbits) - 1
        return out

    def huffman(self, table: dict[tuple[int, int], int]) -> int | None:
        code = 0
        for length in range(1, 17):
            bit = self.read(1)
            if bit is None:
                return None
            code = (code << 1) | bit
            if (length, code) in table:
                return table[(length, code)]
        return None


def _jpeg_segments(r: _Reader) -> Iterator[tuple[int, int, int]]:
    """Yield (marker, body_start, body_end) per sized segment after SOI.

    A segment is ``FF <marker>`` plus a big-endian length that counts
    itself. Raises ``_Malformed`` at EOI, on lost sync, and when the
    stream runs out.
    """
    while r.left() >= 4:
        _require(r.u8() == 0xFF)
        marker = r.u8()
        if marker == 0xFF:  # fill byte before a marker
            r.pos -= 1
        elif marker not in _STANDALONE:
            _require(marker != 0xD9)
            start = r.pos
            r.pos = start + r.u16()
            yield marker, start + 2, r.pos
    raise _Malformed


def _jpeg(payload: bytes) -> Iterator[tuple]:
    """JPEG: the first SOF's width/height, then a DC-only baseline decode.

    The content walk parses DQT/DHT into dequant and canonical Huffman
    tables, and bit-decodes the scan (MSB-first, 0xFF00 unstuffed) with DC
    prediction and sign extension. Each 8x8 block is flat at
    ``DC * q0 / 8 + 128``, which is exact for DC-only data, and edge
    blocks are cropped to the frame. Only a single-component 8-bit SOF0
    frame whose blocks have no AC energy qualifies.
    """
    r = _Reader(payload)
    _require(r.take(2) == b"\xff\xd8")
    segments = _jpeg_segments(r)
    seen = []
    for seg in segments:
        if seg[0] in _SOF_MARKERS:
            break
        seen.append(seg)
    sof = _Reader(payload, seg[1], seg[2])
    sof.u8()  # precision
    height, width = sof.u16(), sof.u16()
    yield width, height, 0
    quant: dict[int, bytes] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    for marker, start, end in itertools.chain(seen, [seg], segments):
        s = _Reader(payload, start, end)
        if marker == 0xDB:  # DQT: chain of (PqTq + 64 entries)
            while s.left() > 0:
                pq = s.u8()
                _require(pq >> 4 == 0)  # 16-bit tables are out of scope
                quant[pq & 0xF] = s.take(64)
        elif marker == 0xC4:  # DHT: chain of (TcTh + 16 counts + symbols)
            while s.left() >= 17:
                tc_th = s.u8()
                counts = s.take(16)
                huff[(tc_th >> 4, tc_th & 0xF)] = _build_huffman(counts, s.take(sum(counts)))
        elif marker == 0xC0:  # baseline SOF0
            precision, h, w, n_comp = s.u8(), s.u16(), s.u16(), s.u8()
            s.take(2)  # component id, sampling factors
            _require(precision == 8 and n_comp == 1)
            frame = (w, h, s.u8() & 0xF)  # + the component's quant table id
        elif marker in _SOF_MARKERS or marker == 0xDD:
            raise _Malformed  # progressive/extended frames, restart intervals
        elif marker == 0xDA:  # SOS: entropy data follows the header
            n_comp, _cid, tables, _ = s.take(4)
            _require(n_comp == 1)
            break  # the only way out: the segment walk raises at its end
    _require(frame)
    w, h, tq = frame
    _require(w and h and tq in quant)
    dc_table, ac_table = huff.get((0, tables >> 4)), huff.get((1, tables & 0xF))
    _require(dc_table is not None and ac_table is not None)
    q0 = quant[tq][0]
    bits = _JpegBits(payload, end)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    pred = 0
    total = nz = max_luma = 0
    for by in range(bh):
        vis_h = min(8, h - by * 8)
        for bx in range(bw):
            t = bits.huffman(dc_table)
            _require(t is not None and t <= 11)
            if t:
                v = bits.read(t)
                _require(v is not None)
                diff = v if v >= (1 << (t - 1)) else v - ((1 << t) - 1)
            else:
                diff = 0
            pred += diff
            _require(bits.huffman(ac_table) == 0x00)  # EOB: the DC-only subset
            dc = pred * q0
            # IDCT of a DC-only block is flat: pixel = DC/8 + 128
            val = (2 * dc + 8) // 16 + 128 if dc >= 0 else -((2 * -dc + 8) // 16) + 128
            val = min(255, max(0, val))
            vis_w = min(8, w - bx * 8)
            n_vis = vis_w * vis_h
            total += val * n_vis
            nz += n_vis if val else 0
            if val > max_luma:
                max_luma = val
    yield _stats_round6(total, max_luma, nz, w * h)


def _lzw_decode(min_code_size: int, data: bytes) -> bytes | None:
    """Full GIF-variant LZW decode (LSB-first variable-width codes).

    Standard table-rebuild decoder: CLEAR resets the dictionary, EOI stops,
    code width grows from ``min_code_size + 1`` up to 12 bits as the
    dictionary fills, and the ``code == len(dict)`` case reconstructs the
    just-defined entry (``prev + prev[0]``). Returns None on any invalid
    code — degrade, never crash.
    """
    clear = 1 << min_code_size
    eoi = clear + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits:
        byte_i, bit_o = divmod(bitpos, 8)
        window = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (window >> bit_o) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(roots)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        out += entry
        prev = entry
        if len(table) >= (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out)


def _gif(payload: bytes) -> Iterator[tuple]:
    """GIF: logical screen width/height, then the first image's pixels.

    Extension blocks are skipped, a local color table wins over the global
    one, the index stream is LZW-decoded and each index maps through the
    palette to luma ``(r + g + b) // 3``. Interlace only permutes the row
    order and the stats are order-free folds, so interlaced images decode
    too.
    """
    r = _Reader(payload)
    _require(r.take(6) in (b"GIF87a", b"GIF89a"))
    width, height = r.u16("little"), r.u16("little")
    yield width, height, 0
    packed = r.u8()
    r.take(2)  # background color, aspect ratio
    pal = r.take(3 << ((packed & 7) + 1)) if packed & 0x80 else None
    while (block := r.u8()) == 0x21:  # extension: label, then sub-blocks
        r.u8()
        while size := r.u8():
            r.take(size)
    _require(block == 0x2C)  # the trailer or junk before any image
    r.take(4)  # image left, top
    iw, ih, ipacked = r.u16("little"), r.u16("little"), r.u8()
    if ipacked & 0x80:
        pal = r.take(3 << ((ipacked & 7) + 1))
    _require(pal is not None and iw and ih)
    mcs = r.u8()
    _require(2 <= mcs <= 8)
    data = bytearray()
    while size := r.u8():
        data += r.take(size)
    idx = _lzw_decode(mcs, bytes(data))
    n = iw * ih
    _require(idx is not None and len(idx) >= n)
    n_pal = len(pal) // 3
    total = nz = max_luma = 0
    for i in idx[:n]:
        if i >= n_pal:
            raise _Malformed
        luma = (pal[3 * i] + pal[3 * i + 1] + pal[3 * i + 2]) // 3
        total += luma
        nz += luma != 0
        if luma > max_luma:
            max_luma = luma
    yield _stats_round6(total, max_luma, nz, n)


def _wav(payload: bytes) -> Iterator[tuple]:
    """WAV: duration from the RIFF chunk walk, then 8-bit mono PCM stats.

    Duration is the ``data`` chunk's declared size over the ``fmt ``
    chunk's byte rate. The content needs every chunk whole and a PCM,
    mono, 8-bit ``fmt ``; the ``data`` chunk is then the sample stream,
    whose stats carry amplitude for audio rows.
    """
    r = _Reader(payload)
    riff, _size, wave = r.take(4), r.take(4), r.take(4)
    _require(riff == b"RIFF" and wave == b"WAVE")
    fmt = data = byte_rate = None
    whole = True
    while r.left() >= 8:
        cid, size = r.take(4), r.u32("little")
        if cid == b"fmt " and size >= 16:
            fmt = r.pos
            byte_rate = _Reader(payload, r.pos + 8).u32("little")
        elif cid == b"data":
            data = (r.pos, size)
        whole = size <= r.left()  # only the last chunk can overrun
        r.pos += size + (size & 1)  # chunks are padded to even length
    yield (0, 0, round(data[1] * 1000 / byte_rate)) if byte_rate and data else None
    _require(whole and fmt is not None and data and data[1])
    f = _Reader(payload, fmt)
    audio_format, channels = f.u16("little"), f.u16("little")
    f.take(10)  # sample rate, byte rate, block align
    _require(audio_format == 1 and channels == 1 and f.u16("little") == 8)
    samples = _Reader(payload, data[0]).take(data[1])
    n = len(samples)
    yield _stats_round6(sum(samples), max(samples), n - samples.count(0), n)


def _crc8(data: bytes) -> int:
    """CRC-8 (poly 0x07, init 0) — the FLAC frame-header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


# frame-header block-size codes 0b0001-0b0101 -> fixed sizes; 0b011x read
# extra bytes; 0b1xxx -> 256 << (code - 8)
_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}


def _flac(payload: bytes) -> Iterator[tuple]:
    """FLAC: duration from STREAMINFO, then VERBATIM-frame sample stats.

    STREAMINFO must be the first metadata block; bytes 10..17 of its body
    pack sample_rate(20) channels(3) bps(5) total_samples(36). The content
    walk skips the other metadata blocks, then per frame reads the sync
    code, block-size and sample-rate codes, channel and sample-size bits
    and the UTF-8-coded frame number, VERIFIES the CRC-8 over the header,
    takes a verbatim subframe, and bounds-checks but does not verify the
    CRC-16 footer. Mono 8-bit streams with the rate from STREAMINFO
    qualify; samples are their raw unsigned 8-bit codes, as in WAV.
    """
    r = _Reader(payload)
    _require(r.take(4) == b"fLaC")
    last = r.u8()
    block_len = int.from_bytes(r.take(3), "big")
    r.take(10)  # min/max block size, min/max frame size
    packed = r.u64()
    r.take(16)  # MD5 of the audio
    sample_rate, total = packed >> 44, packed & ((1 << 36) - 1)
    _require(last & 0x7F == 0 and block_len >= 34 and sample_rate)
    yield 0, 0, round(total * 1000 / sample_rate)
    channels, bps = ((packed >> 41) & 0x7) + 1, ((packed >> 36) & 0x1F) + 1
    _require(channels == 1 and bps == 8 and total)
    r.take(block_len - 34)
    while not last & 0x80:  # the other metadata blocks, up to the last one
        last = r.u8()
        r.take(int.from_bytes(r.take(3), "big"))
    got = 0
    total_sum = nz = max_amp = 0
    while got < total:
        start = r.pos
        sync, sync_bits, codes, layout, lead = r.take(5)
        _require(sync == 0xFF and sync_bits & 0xFC == 0xF8)
        bs_code = codes >> 4
        # mono 8-bit, sample rate from STREAMINFO only
        _require(layout >> 4 == 0 and (layout >> 1) & 0x7 == 0b001 and codes & 0xF == 0)
        # UTF-8-coded frame/sample number: the leading byte sets the length
        n_cont = 0
        while lead & (0x80 >> n_cont):
            n_cont += 1
        r.take(max(0, n_cont - 1) if lead & 0x80 else 0)
        if bs_code in _FLAC_BLOCKSIZES:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        elif bs_code == 0b0110:
            blocksize = r.u8() + 1
        elif bs_code == 0b0111:
            blocksize = r.u16() + 1
        else:
            _require(bs_code >= 0b1000)  # 0 is reserved
            blocksize = 256 << (bs_code - 8)
        header = payload[start : r.pos]
        _require(r.u8() == _crc8(header))
        _require(r.u8() == 0x02)  # subframe: 0 pad, VERBATIM, no wasted bits
        samples = r.take(blocksize)
        r.take(2)  # frame CRC-16: bounds-checked, not verified
        total_sum += sum(samples)
        nz += blocksize - samples.count(0)
        m = max(samples)
        if m > max_amp:
            max_amp = m
        got += blocksize
    _require(got == total)
    yield _stats_round6(total_sum, max_amp, nz, got)


def _boxes(r: _Reader) -> Iterator[tuple[bytes, _Reader]]:
    """Yield (type, body reader) for each ISO-BMFF box in ``r``'s span.

    Box header is a big-endian uint32 size + 4-byte type; size==1 means a
    64-bit largesize follows, size==0 means "to the end of the span". The
    walk stops, without raising, at the first malformed box header.
    """
    while r.left() >= 8:
        start = r.pos
        size, btype = r.u32(), r.take(4)
        if size == 1:
            if r.left() < 8:
                return
            size = r.u64()
        elif size == 0:
            size = r.end - start
        body = r.pos
        if size < body - start or start + size > r.end:
            return
        r.pos = start + size
        yield btype, _Reader(r.buf, body, r.pos)


def _tkhd_dims(trak: _Reader) -> tuple[int | None, int | None]:
    """Width/height (16.16 fixed point) from a trak's first ``tkhd``."""
    for btype, tkhd in _boxes(_Reader(trak.buf, trak.pos, trak.end)):
        if btype != b"tkhd":
            continue
        if tkhd.left() >= 84:  # the minimum v0 body
            # v0: ver/flags 4 + times/id/reserved/duration 20 + reserved 8
            # + layer/alt/volume/reserved 8 + matrix 36 = width at byte 76;
            # v1 widens the two times and the duration to 64-bit (+12)
            skip = 87 if tkhd.u8() == 1 else 75
            if tkhd.left() >= skip + 8:
                tkhd.take(skip)
                return tkhd.u32() >> 16, tkhd.u32() >> 16
        break
    return None, None


def _pcm_table(trak: _Reader) -> tuple | None:
    """(count, chunk offsets, stsc runs) of an 8-bit mono raw-PCM ``soun``
    track, or None. Sample tables are scoped to their ``trak``, so one
    trak's sample entry never pairs with another trak's tables."""
    fmt = channels = bits = uniform = count = offsets = runs = None
    for mtype, mdia in _boxes(trak):
        handler = stbl = None
        for dtype, box in _boxes(mdia) if mtype == b"mdia" else ():
            if dtype == b"hdlr" and box.left() >= 12:
                box.take(8)  # version/flags, pre_defined
                handler = box.take(4)
            elif dtype == b"minf":
                for stype, sbox in _boxes(box):
                    if stype == b"stbl":
                        stbl = sbox
        if handler != b"soun" or stbl is None:
            continue
        for stype, box in _boxes(stbl):
            if stype == b"stsd" and box.left() >= 8:
                box.take(8)  # version/flags, entry count
                for fmt, entry in _boxes(box):
                    if entry.left() >= 20:
                        entry.take(16)  # reserved, data ref, version, vendor
                        channels, bits = entry.u16(), entry.u16()
                    break
            elif stype == b"stsz" and box.left() >= 12:
                box.take(4)
                uniform, count = box.u32(), box.u32()
            elif stype == b"stsc" and box.left() >= 8:
                box.take(4)  # (first_chunk, samples_per_chunk, description)
                runs = [(box.u32(), box.u32(), box.u32()) for _ in range(box.u32())]
            elif stype == b"stco" and box.left() >= 8:
                box.take(4)
                offsets = [box.u32() for _ in range(box.u32())]
        if (
            fmt in (b"raw ", b"sowt", b"twos")
            and channels == 1 and bits == 8
            and uniform == 1 and count
            and offsets and runs and runs[0][0] == 1
        ):
            return count, offsets, runs
    return None


def _mp4(payload: bytes) -> Iterator[tuple]:
    """MP4: ``moov`` duration and dims, then a raw-PCM audio track's stats.

    ``mvhd`` carries the movie timescale and duration, and the first
    ``tkhd`` with a width field carries width/height. The content walk
    scopes each ``trak``: the first whose ``mdia`` has a ``soun`` handler
    and an 8-bit mono ``raw ``/``sowt``/``twos`` sample table (``stsd``
    entry, uniform 1-byte ``stsz``, ``stsc`` chunk runs, ``stco``
    offsets) is read chunk by chunk straight out of the payload.
    """
    _require(_Reader(payload, 4).take(4) == b"ftyp")
    width = height = duration_ms = None
    traks = []
    for btype, moov in _boxes(_Reader(payload)):
        for ctype, box in _boxes(moov) if btype == b"moov" else ():
            if ctype == b"mvhd" and box.left() >= 20:
                v1 = box.u32() >> 24 == 1 and box.left() >= 28  # version + flags
                box.take(16 if v1 else 8)  # creation, modification times
                timescale = box.u32()
                duration = box.u64() if v1 else box.u32()
                if timescale:
                    duration_ms = round(duration * 1000 / timescale)
            elif ctype == b"trak":
                traks.append(box)
                if width is None:
                    width, height = _tkhd_dims(box)
    yield None if duration_ms is None else (width or 0, height or 0, duration_ms)
    for trak in traks:
        table = _pcm_table(trak)
        if table:
            break
    else:
        raise _Malformed  # no raw-PCM sound trak
    count, offsets, runs = table
    # run i applies from its first_chunk until the next run's first_chunk
    # (ISO 14496-12 semantics), chunks 1-based
    total = nz = max_amp = got = 0
    for ci, at in enumerate(offsets, start=1):
        for first, per, _ in runs:
            if first > ci:
                break
            spc = per
        spc = min(spc, count - got)  # the last chunk may be short
        _require(spc > 0)
        chunk = _Reader(payload, at).take(spc)
        total += sum(chunk)
        nz += spc - chunk.count(0)
        m = max(chunk)
        if m > max_amp:
            max_amp = m
        got += spc
    _require(got == count)  # the chunk map must cover the sample count
    yield _stats_round6(total, max_amp, nz, count)


_CONTAINERS = (_png, _jpeg, _gif, _wav, _flac, _mp4)
_NULL_STATS = (None, None, None)


def _fake_features(kind: str, payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a real decoder: dims/duration from bytes."""
    h = hashlib.md5(payload).digest()
    if kind == "image":
        return 64 + h[0] % 192, 64 + h[1] % 192, 0
    if kind == "audio":
        return 0, 0, 1000 + int.from_bytes(h[2:4], "big") % 60000
    return 320 + h[4] % 64, 240 + h[5] % 64, 1000 + int.from_bytes(h[6:8], "big") % 30000


def _features(kind: str, payload: bytes, deterministic_fake: bool) -> tuple:
    """(width, height, duration_ms, mean_luma, max_luma, nonzero_frac).

    Dispatch is by the payload's magic bytes, not the claimed ``kind`` — a
    mislabeled column must not route a PNG through the audio path. This is
    the one handler of ``_Malformed``: from a container's header it means
    "not this container", from its content NULL stats. A WAV or MP4 whose
    structure parses but whose duration cannot be computed (zero byte rate,
    no usable ``mvhd``) yields None as its header: its content stats are
    kept, and the width/height/duration come from the next container or
    the stub.
    """
    stats = _NULL_STATS
    for container in _CONTAINERS:
        walk = container(payload)
        header = None
        try:
            header = next(walk)
            stats = next(walk)
        except _Malformed:
            pass
        if header is not None:
            return header + stats
    if not deterministic_fake:
        raise NotImplementedError(
            f"payload is none of PNG/JPEG/GIF/WAV/FLAC/MP4 and no other media "
            f"decoder is available in this environment (kind={kind!r}); "
            "set deterministic_fake=True for a deterministic stub"
        )
    return _fake_features(kind, payload) + stats


def decode_media(media: DataFrame, deterministic_fake: bool = True) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``.

    PNG, JPEG, GIF, WAV, FLAC and MP4 payloads are decoded for real, header
    and content, by ``_features``; anything else uses the deterministic
    stub or raises. Real deployment: add PIL/librosa/ffmpeg branches inside
    the same batch loop — the Arrow batch shape, output schema, and
    partitioning are identical.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            feats = [
                _features(k, p, deterministic_fake)
                for k, p in zip(pdf["kind"], payloads)
            ]
            cols = list(zip(*feats)) or [()] * len(_FEATURE_COLS)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    **{name: list(col) for name, col in zip(_FEATURE_COLS, cols)},
                    "feature_hash": [hashlib.md5(p).hexdigest() for p in payloads],
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """Frame-sampling plumbing for video: one row per sampled offset.

    The sampled "frame" is a deterministic byte-slice hash (real decoder slots
    into the same explode shape).
    """
    feats = decode_media(media.filter(F.col("kind") == "video"))
    offsets = F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
    return feats.select(
        "media_id",
        F.explode(offsets).alias("offset_ms"),
        F.md5(F.concat_ws("|", "feature_hash", F.col("offset_ms").cast("string"))).alias("frame_hash"),
    )
