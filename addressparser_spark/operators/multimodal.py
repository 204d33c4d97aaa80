"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: media lives as an opaque ``binary``
column with a typed metadata struct; decode/feature-extract runs as
Arrow-batched ``mapInPandas`` so each task streams batches without
materializing whole partitions.

Six container formats are decoded FOR REAL with pure-stdlib parsers (no
image/audio/video libraries needed): PNG (IHDR width/height, signature +
chunk walk), JPEG (segment walk to the SOF frame header), GIF (logical
screen descriptor), WAV (RIFF chunk walk, duration from data size / fmt
byte rate), FLAC (STREAMINFO sample_rate/total_samples bit-unpack), and
MP4/ISO-BMFF (box-tree walk: ``mvhd`` timescale+duration for duration_ms,
``tkhd`` 16.16 fixed-point width/height). ALL SIX containers additionally
get a content decode: PNG (``_png_content``: zlib inflate + scanline
unfilter for all five PNG filters — mean/max luma, nonzero-pixel fraction),
JPEG (``_jpeg_content``: the real entropy layer — DQT/DHT parsed into
dequant + canonical Huffman tables, MSB-first bit decode with byte
unstuffing, DC prediction and sign extension — for the DC-only baseline
subset, which round-trips losslessly), WAV (``_wav_content``: the 8-bit
mono PCM data chunk read directly — uncompressed, pure byte arithmetic),
GIF (``_gif_content``: a real variable-width LZW decoder over the index
stream, palette-mapped to luma), FLAC (``_flac_content``: real frame
parsing — sync codes, UTF-8 frame numbers, CRC-8 verification — over
VERBATIM subframes) and MP4 (``_mp4_content``: sample-table walk to
raw-PCM audio tracks — ``hdlr``/``stsd``/``stsz``/``stco`` → samples read
straight out of ``mdat``). Payloads in none of those containers fall back
to a deterministic md5-derived stub when ``deterministic_fake`` is set,
else raise ``NotImplementedError`` — the Spark plumbing (schema, batching,
partitioning, UDF signatures) is identical on every path, so swapping in
PIL/ffmpeg later changes only the per-row parse (the remaining stub
surface is full-DCT/entropy sample data — JPEG blocks with AC energy,
compressed FLAC subframes, compressed MP4 media — where stdlib has no
codec; every header fact, and every pixel/sample fact inside each
container's decodable subset, is real).
"""

from __future__ import annotations

import hashlib
import struct
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


_PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _png_dims(payload: bytes) -> tuple[int, int] | None:
    """Parse width/height from a PNG's IHDR chunk; None if not a PNG.

    The PNG spec fixes IHDR as the first chunk: 8-byte signature, 4-byte
    big-endian length, the literal type ``IHDR``, then width and height as
    big-endian uint32 — a header read, no pixel decode.
    """
    if len(payload) < 24 or payload[:8] != _PNG_SIGNATURE or payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    return width, height


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (filter 4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_content(payload: bytes) -> tuple[float, int, float] | None:
    """(mean_luma, max_luma, nonzero_frac) from a FULL PNG pixel decode.

    The one container whose payload decodes with the stdlib alone: chunk
    walk collects the IDAT stream, ``zlib`` inflates it, and the five PNG
    scanline filters (None/Sub/Up/Average/Paeth) are inverted per row.
    Supports the non-interlaced 8-bit color types (gray, RGB, gray+alpha,
    RGBA); luma is the gray channel, or the integer mean (r+g+b)//3 for
    color. Returns None for anything else — header facts still come from
    ``_png_dims``, so content stats degrade to NULL, never to a crash.
    """
    if len(payload) < 33 or payload[:8] != _PNG_SIGNATURE or payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    bit_depth, color_type, _comp, _filt, interlace = payload[24:29]
    channels = _PNG_CHANNELS.get(color_type)
    if bit_depth != 8 or channels is None or interlace != 0 or not width or not height:
        return None
    idat = bytearray()
    off = 8
    while off + 8 <= len(payload):
        (clen,) = struct.unpack(">I", payload[off : off + 4])
        ctype = payload[off + 4 : off + 8]
        data_end = off + 8 + clen
        if data_end + 4 > len(payload):
            return None  # truncated chunk
        if ctype == b"IDAT":
            idat += payload[off + 8 : data_end]
        elif ctype == b"IEND":
            break
        off = data_end + 4  # skip CRC
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        return None
    prev = bytearray(stride)
    total = luma_sum = nonzero = 0
    max_luma = 0
    for r in range(height):
        base = r * (stride + 1)
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
            return None  # invalid filter type
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
    if total == 0:
        return None
    return round(luma_sum / total, 6), max_luma, round(nonzero / total, 6)


_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}  # not DHT/JPG/DAC
_STANDALONE = frozenset({0x01, 0xD8}) | frozenset(range(0xD0, 0xD8))  # TEM/SOI/RSTn


def _jpeg_dims(payload: bytes) -> tuple[int, int] | None:
    """Parse width/height from a JPEG's SOF frame header; None if not a JPEG.

    JPEG is a segment stream after the SOI marker: ``FF <type>`` then (for
    sized segments) a big-endian uint16 length that includes itself. The
    first SOF0-SOF15 segment (excluding DHT/JPG/DAC which share the range)
    carries precision(1), height(2), width(2) — a header walk, no entropy
    decode, same cost class as the PNG IHDR read.
    """
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    off = 2
    while off + 4 <= len(payload):
        if payload[off] != 0xFF:
            return None  # lost sync: not a well-formed segment stream
        marker = payload[off + 1]
        if marker == 0xFF:  # fill byte before a marker
            off += 1
            continue
        off += 2
        if marker in _STANDALONE:
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        if off + 2 > len(payload):
            return None
        (size,) = struct.unpack(">H", payload[off : off + 2])
        if marker in _SOF_MARKERS:
            if size < 7 or off + 7 > len(payload):
                return None
            height, width = struct.unpack(">HH", payload[off + 3 : off + 7])
            return width, height
        off += size
    return None


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


def _lzw_encode(min_code_size: int, data: bytes) -> bytes:
    """Real GIF LZW encoder (fixture side of :func:`_lzw_decode`).

    Greedy longest-prefix coding with the growth rule synchronized to the
    decoder (grow when ``next_code`` exceeds the current width's capacity;
    emit CLEAR when the 12-bit table fills)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    cur = nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    emit(clear)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
        elif next_code >= 4096:
            emit(clear)
            table = fresh()
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([byte])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(cur & 0xFF)
    return bytes(out)


def _gif_content(payload: bytes) -> tuple[float, int, float] | None:
    """(mean_luma, max_luma, nonzero_frac) from a FULL GIF pixel decode.

    The first compressed-codec content decoder: walks the logical screen
    descriptor + global color table, skips extension blocks, reads the
    first image descriptor (local palette honored), LZW-decodes the index
    stream and maps indices through the palette to luma
    ``(r + g + b) // 3``. Interlaced images decode too: interlace only
    permutes row order, and all three stats are order-invariant folds over
    the pixels. Anything else (truncation, bad codes, out-of-palette
    indices, no palette) returns None — header dims still come from
    ``_gif_dims``, so stats degrade to NULL, never to a crash. Rounding is
    the same integer half-up at 6 decimals as ``_wav_content`` (pixel
    counts here make exact ties reachable).
    """
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = payload[10]
    off = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 7) + 1)
        gct = payload[13 : 13 + 3 * n]
        if len(gct) < 3 * n:
            return None
        off = 13 + 3 * n
    while off < len(payload):
        b0 = payload[off]
        if b0 == 0x21:  # extension: introducer + label, then sub-blocks
            off += 2
            while off < len(payload) and payload[off] != 0:
                off += 1 + payload[off]
            off += 1
        elif b0 == 0x2C:  # image descriptor
            if off + 10 > len(payload):
                return None
            iw, ih = struct.unpack("<HH", payload[off + 5 : off + 9])
            ipacked = payload[off + 9]
            off += 10
            pal = gct
            if ipacked & 0x80:  # local color table wins
                n = 2 ** ((ipacked & 7) + 1)
                pal = payload[off : off + 3 * n]
                if len(pal) < 3 * n:
                    return None
                off += 3 * n
            # interlace (0x40) permutes ROW order across four passes; the
            # stats here are order-invariant folds over all pixels, so the
            # same index-stream walk covers interlaced images too
            if pal is None or not iw or not ih:
                return None  # no palette to map indices through
            if off >= len(payload):
                return None
            mcs = payload[off]
            off += 1
            if not 2 <= mcs <= 8:
                return None
            data = bytearray()
            while off < len(payload) and payload[off] != 0:
                ln = payload[off]
                chunk = payload[off + 1 : off + 1 + ln]
                if len(chunk) < ln:
                    return None  # truncated sub-block
                data += chunk
                off += 1 + ln
            if off >= len(payload):
                return None  # missing block terminator
            idx = _lzw_decode(mcs, bytes(data))
            if idx is None or len(idx) < iw * ih:
                return None
            n_pal = len(pal) // 3
            n = iw * ih
            total = nz = max_luma = 0
            for i in idx[:n]:
                if i >= n_pal:
                    return None
                luma = (pal[3 * i] + pal[3 * i + 1] + pal[3 * i + 2]) // 3
                total += luma
                nz += luma != 0
                if luma > max_luma:
                    max_luma = luma
            return _stats_round6(total, max_luma, nz, n)
        else:  # trailer (0x3B) or junk before any image data
            return None
    return None


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


def _jpeg_content(payload: bytes) -> tuple[float, int, float] | None:
    """(mean_luma, max_luma, nonzero_frac) from a DC-only baseline JPEG.

    The entropy layer decoded for real: DQT/DHT segments are parsed into
    dequant + canonical Huffman tables, the SOS scan is bit-decoded
    (MSB-first, 0xFF00 unstuffed) with proper DC prediction and
    sign-extension, and each 8x8 block is reconstructed from its DC
    coefficient (``pixel = DC * q0 / 8 + 128``, exact for DC-only data).
    The supported subset is single-component baseline with every block's
    AC run empty (EOB immediately after the DC code) — blocks with AC
    energy, progressive scans, restart markers or multi-component frames
    return None; header dims still come from ``_jpeg_dims``. Edge blocks
    are cropped to the true width/height. Integer half-up rounding at 6
    decimals, as in the other content decoders.
    """
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    off = 2
    quant: dict[int, bytes] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dims = None
    scan = None
    while off + 4 <= len(payload):
        if payload[off] != 0xFF:
            return None
        marker = payload[off + 1]
        if marker == 0xFF:
            off += 1
            continue
        off += 2
        if marker in _STANDALONE:
            continue
        if marker == 0xD9:
            break
        if off + 2 > len(payload):
            return None
        (size,) = struct.unpack(">H", payload[off : off + 2])
        seg = payload[off + 2 : off + size]
        if marker == 0xDB:  # DQT: chain of (PqTq + 64 entries)
            p = 0
            while p < len(seg):
                if seg[p] >> 4 != 0 or p + 65 > len(seg):
                    return None  # 16-bit tables / short table out of scope
                quant[seg[p] & 0xF] = seg[p + 1 : p + 65]
                p += 65
        elif marker == 0xC4:  # DHT: chain of (TcTh + 16 counts + symbols)
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = seg[p + 1 : p + 17]
                n = sum(counts)
                if p + 17 + n > len(seg):
                    return None  # declared symbols missing
                huff[(tc, th)] = _build_huffman(counts, seg[p + 17 : p + 17 + n])
                p += 17 + n
        elif marker == 0xC0:  # baseline SOF0 only
            if len(seg) < 9 or seg[0] != 8 or seg[5] != 1:
                return None  # 8-bit single-component only
            h, w = struct.unpack(">HH", seg[1:5])
            dims = (w, h, seg[8] & 0xF)  # + the component's quant table id
        elif marker in _SOF_MARKERS:
            return None  # progressive/extended: out of the DC-only subset
        elif marker == 0xDD:
            return None  # restart intervals unsupported
        elif marker == 0xDA:  # SOS: entropy data follows the header
            if len(seg) < 4 or seg[0] != 1:
                return None
            td, ta = seg[2] >> 4, seg[2] & 0xF
            scan = (td, ta, off + size)
            break
        off += size
    if dims is None or scan is None:
        return None
    w, h, tq = dims
    if not w or not h or tq not in quant:
        return None
    td, ta, data_off = scan
    dc_table, ac_table = huff.get((0, td)), huff.get((1, ta))
    if dc_table is None or ac_table is None:
        return None
    q0 = quant[tq][0]
    bits = _JpegBits(payload, data_off)
    bw, bh = (w + 7) // 8, (h + 7) // 8
    pred = 0
    total = nz = max_luma = 0
    for by in range(bh):
        vis_h = min(8, h - by * 8)
        for bx in range(bw):
            t = bits.huffman(dc_table)
            if t is None or t > 11:
                return None
            if t:
                v = bits.read(t)
                if v is None:
                    return None
                diff = v if v >= (1 << (t - 1)) else v - ((1 << t) - 1)
            else:
                diff = 0
            pred += diff
            if bits.huffman(ac_table) != 0x00:  # must be EOB: DC-only subset
                return None
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
    return _stats_round6(total, max_luma, nz, w * h)


def _gif_dims(payload: bytes) -> tuple[int, int] | None:
    """Parse width/height from a GIF logical screen descriptor; None if not a GIF.

    GIF87a/GIF89a fix the layout: 6-byte signature+version, then the logical
    screen width and height as little-endian uint16 — a 10-byte header read.
    """
    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", payload[6:10])
    return width, height


def _flac_duration_ms(payload: bytes) -> int | None:
    """Duration of a FLAC payload in ms; None if not a FLAC.

    The spec fixes STREAMINFO as the first metadata block after the ``fLaC``
    magic: 1-byte block header (bit7 last-flag, bits0-6 type 0), 3-byte
    big-endian length (34), then the 34-byte STREAMINFO whose bytes 10..17,
    read as a big-endian uint64, pack sample_rate(20) channels(3) bps(5)
    total_samples(36) — a header read, no frame decode.
    """
    if len(payload) < 8 + 34 or payload[:4] != b"fLaC":
        return None
    if payload[4] & 0x7F != 0:  # first block must be STREAMINFO
        return None
    (block_len,) = struct.unpack(">I", b"\x00" + payload[5:8])
    if block_len < 34 or len(payload) < 8 + 34:
        return None
    (packed,) = struct.unpack(">Q", payload[18:26])
    sample_rate = packed >> 44
    total_samples = packed & ((1 << 36) - 1)
    if sample_rate == 0:
        return None
    return round(total_samples * 1000 / sample_rate)


def _wav_content(payload: bytes) -> tuple[float, int, float] | None:
    """(mean_amp, max_amp, nonzero_frac) from a FULL WAV sample decode.

    WAV is the audio container whose payload is UNCOMPRESSED — for 8-bit
    mono PCM the ``data`` chunk IS the sample stream, so content decode is
    a direct byte read (the audio analog of ``_png_content``; the three
    stat columns carry amplitude stats for audio rows). Only format 1
    (PCM) / 1 channel / 8-bit payloads qualify; anything else degrades to
    NULL content stats, never to a crash.

    The mean and nonzero fraction are rounded half-up at 6 decimals in
    INTEGER arithmetic: sample counts reach ~32k here, where exact
    .xxxxxx5 ties are reachable and Python's float round (half-even) and
    a SQL oracle's (half-away) could disagree — the integer form is
    tie-free and bit-identical in both engines.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt = data = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (size,) = struct.unpack("<I", payload[off + 4 : off + 8])
        if off + 8 + size > len(payload):
            return None  # truncated chunk
        if cid == b"fmt " and size >= 16:
            fmt = payload[off + 8 : off + 24]
        elif cid == b"data":
            data = payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)
    if fmt is None or data is None or not data:
        return None
    audio_format, channels = struct.unpack("<HH", fmt[0:4])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if audio_format != 1 or channels != 1 or bits != 8:
        return None
    n = len(data)
    return _stats_round6(sum(data), max(data), n - data.count(0), n)


def _stats_round6(
    total: int, max_v: int, nonzero: int, n: int
) -> tuple[float, int, float]:
    """(mean, max, nonzero_frac) with INTEGER half-up rounding at 6 decimals.

    The shared convention of every sample/pixel content decoder except PNG
    (whose small denominators make Python's float round provably tie-free,
    see ``_png_content``): counts here reach ~32k where exact .xxxxxx5 ties
    are reachable, and the integer form is bit-identical to the DuckDB
    oracle's re-derivation.
    """
    return (
        ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
        max_v,
        ((2 * nonzero * 10**6 + n) // (2 * n)) / 1e6,
    )


def _crc8(data: bytes) -> int:
    """CRC-8 (poly 0x07, init 0) — the FLAC frame-header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16 (poly 0x8005, init 0) — the FLAC frame footer checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


# frame-header block-size codes 0b0001-0b0101 -> fixed sizes; 0b011x read
# extra bytes; 0b1xxx -> 256 << (code - 8)
_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}


def _flac_content(payload: bytes) -> tuple[float, int, float] | None:
    """(mean_amp, max_amp, nonzero_frac) from a FLAC VERBATIM-frame decode.

    FLAC's frame layer is compressed, but its VERBATIM subframe type stores
    raw samples — a real FLAC decoder subset: STREAMINFO gate (mono, 8 bps),
    metadata-block walk, then per frame: sync code, block-size/sample-rate
    codes, channel + sample-size bits, UTF-8-coded frame number, CRC-8
    VERIFIED over the header bytes, verbatim subframe, CRC-16 skipped.
    Samples are read as their raw unsigned 8-bit code values (the same
    convention as 8-bit WAV). Anything outside this subset — other subframe
    types, interchannel stereo, CRC mismatch, truncation — returns None;
    header facts still come from ``_flac_duration_ms``.
    """
    if len(payload) < 8 + 34 or payload[:4] != b"fLaC":
        return None
    # metadata walk: first block must be STREAMINFO; honor the last-flag
    off = 4
    sample_rate = total = bps = channels = None
    while off + 4 <= len(payload):
        hdr = payload[off]
        (blen,) = struct.unpack(">I", b"\x00" + payload[off + 1 : off + 4])
        body = payload[off + 4 : off + 4 + blen]
        if off == 4:
            if hdr & 0x7F != 0 or blen < 34:
                return None
            (packed,) = struct.unpack(">Q", body[10:18])
            sample_rate = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
        off += 4 + blen
        if hdr & 0x80:
            break
    if not sample_rate or channels != 1 or bps != 8 or not total:
        return None
    got = 0
    total_sum = nz = max_amp = 0
    while got < total:
        hstart = off
        if off + 5 > len(payload) or payload[off] != 0xFF or payload[off + 1] & 0xFC != 0xF8:
            return None
        bs_code = payload[off + 2] >> 4
        sr_code = payload[off + 2] & 0xF
        ch_code = payload[off + 3] >> 4
        ss_code = (payload[off + 3] >> 1) & 0x7
        if ch_code != 0 or ss_code != 0b001 or sr_code != 0:
            return None  # mono 8-bit, rate-from-STREAMINFO only
        off += 4
        # UTF-8-coded frame/sample number: leading byte sets the length
        lead = payload[off]
        n_cont = 0
        while lead & (0x80 >> n_cont):
            n_cont += 1
        n_cont = max(0, n_cont - 1) if lead & 0x80 else 0
        off += 1 + n_cont
        if off >= len(payload):
            return None  # truncated inside the frame-number field
        if bs_code in _FLAC_BLOCKSIZES:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        elif bs_code == 0b0110:
            blocksize = payload[off] + 1
            off += 1
        elif bs_code == 0b0111:
            if off + 2 > len(payload):
                return None
            blocksize = struct.unpack(">H", payload[off : off + 2])[0] + 1
            off += 2
        elif bs_code >= 0b1000:
            blocksize = 256 << (bs_code - 8)
        else:
            return None  # reserved code
        if off >= len(payload) or _crc8(payload[hstart:off]) != payload[off]:
            return None  # corrupted frame header
        off += 1
        if payload[off : off + 1] != b"\x02":  # subframe: 0 pad, VERBATIM, no waste
            return None
        off += 1
        if off + blocksize + 2 > len(payload):
            return None  # truncated samples or frame CRC-16 footer
        samples = payload[off : off + blocksize]
        off += blocksize + 2  # skip frame CRC-16 (bounds-checked, not verified)
        total_sum += sum(samples)
        nz += blocksize - samples.count(0)
        m = max(samples)
        if m > max_amp:
            max_amp = m
        got += blocksize
    if got != total:
        return None
    return _stats_round6(total_sum, max_amp, nz, got)


def _wav_duration_ms(payload: bytes) -> int | None:
    """Duration of a RIFF/WAVE payload in ms; None if not a WAV.

    Walks the RIFF chunk list (id, little-endian size, data, even padding):
    the ``fmt `` chunk carries byte_rate at data offset 8, the ``data``
    chunk's size is the PCM byte count — duration = data_size / byte_rate.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    byte_rate = data_size = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (size,) = struct.unpack("<I", payload[off + 4 : off + 8])
        if cid == b"fmt " and size >= 16:
            (byte_rate,) = struct.unpack("<I", payload[off + 16 : off + 20])
        elif cid == b"data":
            data_size = size
        off += 8 + size + (size & 1)  # chunks are padded to even length
    if not byte_rate or data_size is None:
        return None
    return round(data_size * 1000 / byte_rate)


def _mp4_boxes(buf: bytes, off: int, end: int):
    """Yield (type, body_start, box_end) for each ISO-BMFF box in [off, end).

    Box header is a big-endian uint32 size + 4-byte type; size==1 means a
    64-bit largesize follows, size==0 means "to end of enclosing box".
    Stops (rather than raising) on any malformed header — the caller treats
    an incomplete walk as "not an MP4".
    """
    while off + 8 <= end:
        (size,) = struct.unpack(">I", buf[off : off + 4])
        btype = buf[off + 4 : off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                return
            (size,) = struct.unpack(">Q", buf[off + 8 : off + 16])
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            return
        yield btype, off + hdr, off + size
        off += size


def _mp4_meta(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, duration_ms) from an MP4's moov box; None if not MP4.

    ISO base-media files open with an ``ftyp`` box; metadata lives under
    ``moov``: ``mvhd`` carries movie timescale (ticks/sec) and duration in
    ticks, ``trak``/``tkhd`` carries presentation width/height as 16.16
    fixed-point. A pure header walk — no sample tables, no codec data —
    the same cost class as the PNG/JPEG/WAV parsers above.
    """
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    width = height = duration_ms = None
    for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in _mp4_boxes(payload, body, bend):
            if ctype == b"mvhd" and cend - cbody >= 20:
                version = payload[cbody]
                if version == 1 and cend - cbody >= 32:
                    timescale, duration = struct.unpack(
                        ">IQ", payload[cbody + 20 : cbody + 32]
                    )
                else:
                    timescale, duration = struct.unpack(
                        ">II", payload[cbody + 12 : cbody + 20]
                    )
                if timescale:
                    duration_ms = round(duration * 1000 / timescale)
            elif ctype == b"trak" and width is None:
                for ttype, tbody, tend in _mp4_boxes(payload, cbody, cend):
                    if ttype != b"tkhd":
                        continue
                    if tend - tbody < 84:  # minimum v0 tkhd body (width at 76+8)
                        break
                    version = payload[tbody]
                    # v0: ver/flags 4 + times/id/reserved/duration 20 +
                    # reserved 8 + layer/alt/volume/reserved 8 + matrix 36
                    # = width at byte 76; v1 widens the two times and the
                    # duration to 64-bit (+12).
                    fixed = tbody + (88 if version == 1 else 76)
                    if tend - fixed >= 8:
                        w_fp, h_fp = struct.unpack(">II", payload[fixed : fixed + 8])
                        width, height = w_fp >> 16, h_fp >> 16
                    break
    if duration_ms is None:
        return None
    return width or 0, height or 0, duration_ms


def _mp4_content(payload: bytes) -> tuple[float, int, float] | None:
    """(mean_amp, max_amp, nonzero_frac) from an MP4 raw-PCM audio track.

    MP4 media is normally codec data, but ISO-BMFF can carry UNCOMPRESSED
    8-bit PCM (QuickTime ``raw ``/``sowt``/``twos`` sample entries) — for
    those the sample table IS the decode map: walk
    ``moov/trak/mdia`` to find the ``soun`` handler, read the ``stbl``'s
    ``stsd`` (format + channels + sample size), ``stsz`` (uniform 1-byte
    samples), ``stsc`` (chunk-run -> samples-per-chunk map) and ``stco``
    (per-chunk offsets), then read each chunk's samples straight out of
    ``mdat``. Anything else — compressed formats, stereo, wider samples,
    offsets out of range, a chunk map that does not cover the sample
    count — returns None; header facts still come from ``_mp4_meta``.
    Same unsigned-8-bit convention and integer half-up rounding as
    ``_wav_content``.
    """
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    fmt = channels = samplesize = None
    uniform = count = None
    offsets = None
    chunk_map = None  # list of (first_chunk, samples_per_chunk), 1-based
    found = False
    for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
        if btype != b"moov" or found:
            continue
        for ctype, cbody, cend in _mp4_boxes(payload, body, bend):
            if ctype != b"trak" or found:
                continue
            # per-trak scope: one trak's sample entry must never be paired
            # with another trak's sample tables
            fmt = channels = samplesize = None
            uniform = count = None
            offsets = None
            chunk_map = None
            for mtype, mbody, mend in _mp4_boxes(payload, cbody, cend):
                if mtype != b"mdia":
                    continue
                handler = None
                stbl = None
                for dtype, dbody, dend in _mp4_boxes(payload, mbody, mend):
                    if dtype == b"hdlr" and dend - dbody >= 12:
                        handler = payload[dbody + 8 : dbody + 12]
                    elif dtype == b"minf":
                        for stype, sbody, send in _mp4_boxes(payload, dbody, dend):
                            if stype == b"stbl":
                                stbl = (sbody, send)
                if handler != b"soun" or stbl is None:
                    continue
                for stype, sbody, send in _mp4_boxes(payload, *stbl):
                    if stype == b"stsd" and send - sbody >= 8:
                        for etype, ebody, eend in _mp4_boxes(payload, sbody + 8, send):
                            fmt = etype
                            if eend - ebody >= 20:
                                channels, samplesize = struct.unpack(
                                    ">HH", payload[ebody + 16 : ebody + 20]
                                )
                            break
                    elif stype == b"stsz" and send - sbody >= 12:
                        uniform, count = struct.unpack(
                            ">II", payload[sbody + 4 : sbody + 12]
                        )
                    elif stype == b"stsc" and send - sbody >= 8:
                        (n_runs,) = struct.unpack(
                            ">I", payload[sbody + 4 : sbody + 8]
                        )
                        if send - sbody < 8 + 12 * n_runs:
                            return None
                        chunk_map = [
                            struct.unpack(
                                ">II", payload[sbody + 8 + 12 * i : sbody + 16 + 12 * i]
                            )
                            for i in range(n_runs)
                        ]
                    elif stype == b"stco" and send - sbody >= 8:
                        (n_chunks,) = struct.unpack(
                            ">I", payload[sbody + 4 : sbody + 8]
                        )
                        if send - sbody < 8 + 4 * n_chunks:
                            return None
                        offsets = [
                            struct.unpack(
                                ">I", payload[sbody + 8 + 4 * i : sbody + 12 + 4 * i]
                            )[0]
                            for i in range(n_chunks)
                        ]
                # the FIRST fully-qualifying raw-PCM sound trak wins; a
                # non-qualifying sound trak (compressed, incomplete tables)
                # just stops contributing instead of poisoning later traks
                if (
                    fmt in (b"raw ", b"sowt", b"twos")
                    and channels == 1 and samplesize == 8
                    and uniform == 1 and count
                    and offsets and chunk_map and chunk_map[0][0] == 1
                ):
                    found = True
    if not found:
        return None
    # walk the chunk runs: run i applies from its first_chunk until the
    # next run's first_chunk (ISO 14496-12 semantics), chunks 1-based
    total = nz = max_amp = 0
    got = 0
    for ci, off_c in enumerate(offsets, start=1):
        spc = None
        for first, per in chunk_map:
            if first <= ci:
                spc = per
            else:
                break
        if spc is None:
            return None
        spc = min(spc, count - got)  # last chunk may be short
        if spc <= 0 or off_c + spc > len(payload):
            return None
        chunk = payload[off_c : off_c + spc]
        total += sum(chunk)
        nz += spc - chunk.count(0)
        m = max(chunk)
        if m > max_amp:
            max_amp = m
        got += spc
    if got != count:
        return None  # chunk map does not cover the sample count
    return _stats_round6(total, max_amp, nz, count)


def make_png(
    width: int,
    height: int,
    pixels: bytes | None = None,
    filter_type: int = 0,
) -> bytes:
    """Build a minimal VALID 8-bit grayscale PNG (test fixture / synthesizer).

    ``pixels`` is row-major luma bytes (len == width*height; zeros when
    omitted); ``filter_type`` 0-4 forward-applies that PNG scanline filter
    to every row on the encode side, so a decoder must invert it to recover
    ``pixels`` — this is how the unfilter paths get exercised by fixtures.
    """
    if pixels is None:
        pixels = bytes(width * height)
    assert len(pixels) == width * height and 0 <= filter_type <= 4

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    scanlines = bytearray()
    prev = bytes(width)
    for r in range(height):
        row = pixels[r * width : (r + 1) * width]
        out = bytearray(row)
        if filter_type == 1:  # Sub
            for i in range(width - 1, 0, -1):
                out[i] = (out[i] - row[i - 1]) & 0xFF
        elif filter_type == 2:  # Up
            for i in range(width):
                out[i] = (out[i] - prev[i]) & 0xFF
        elif filter_type == 3:  # Average
            for i in range(width):
                left = row[i - 1] if i else 0
                out[i] = (out[i] - (left + prev[i]) // 2) & 0xFF
        elif filter_type == 4:  # Paeth
            for i in range(width):
                left = row[i - 1] if i else 0
                ul = prev[i - 1] if i else 0
                out[i] = (out[i] - _paeth(left, prev[i], ul)) & 0xFF
        scanlines += bytes([filter_type]) + out
        prev = row

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + chunk(b"IEND", b"")
    )


_JPEG_DC_COUNTS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
_JPEG_DC_SYMBOLS = bytes(range(12))  # the standard luminance DC table


def make_jpeg(width: int, height: int, pixels: bytes | None = None) -> bytes:
    """Build a valid baseline JPEG. Header-only when ``pixels`` is omitted
    (SOI + APP0 + SOF0 + EOI — dims parse, content degrades to NULL).
    With ``pixels`` (row-major luma, CONSTANT within every visible 8x8
    block — DC-only blocks are exactly representable, so the lossy codec
    round-trips losslessly): full DQT (all-ones) + DHT (standard DC table,
    minimal one-code AC table for EOB) + a real Huffman-coded SOS scan
    with DC prediction, sign-coded diffs and 0xFF byte stuffing."""

    def seg(marker: int, data: bytes) -> bytes:
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(data) + 2) + data

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    if pixels is None:
        return b"\xff\xd8" + seg(0xE0, app0) + seg(0xC0, sof0) + b"\xff\xd9"
    assert len(pixels) == width * height

    enc = {
        sym: (ln, code)
        for (ln, code), sym in _build_huffman(_JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS).items()
    }
    buf = bytearray()
    cur = nbits = 0

    def put(val: int, nb: int) -> None:
        nonlocal cur, nbits
        cur = (cur << nb) | val
        nbits += nb
        while nbits >= 8:
            nbits -= 8
            b = (cur >> nbits) & 0xFF
            buf.append(b)
            if b == 0xFF:
                buf.append(0x00)  # byte stuffing
            cur &= (1 << nbits) - 1

    bw, bh = (width + 7) // 8, (height + 7) // 8
    pred = 0
    for by in range(bh):
        vis_h = min(8, height - by * 8)
        for bx in range(bw):
            vis_w = min(8, width - bx * 8)
            v = pixels[(by * 8) * width + bx * 8]
            for r in range(vis_h):  # the DC-only contract: flat blocks
                row0 = (by * 8 + r) * width + bx * 8
                assert pixels[row0 : row0 + vis_w] == bytes([v]) * vis_w
            dc = 8 * (v - 128)
            diff = dc - pred
            pred = dc
            t = abs(diff).bit_length()
            ln, code = enc[t]
            put(code, ln)
            if t:
                put(diff if diff >= 0 else diff + (1 << t) - 1, t)
            put(0, 1)  # EOB: the minimal AC table's single 1-bit code
    if nbits:
        put((1 << (8 - nbits)) - 1, 8 - nbits)  # pad with 1s

    dqt = seg(0xDB, b"\x00" + bytes([1]) * 64)
    dht = seg(0xC4, b"\x00" + _JPEG_DC_COUNTS + _JPEG_DC_SYMBOLS) + seg(
        0xC4, b"\x10" + bytes([1] + [0] * 15) + b"\x00"
    )
    sos = seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    return (
        b"\xff\xd8" + seg(0xE0, app0) + dqt + seg(0xC0, sof0) + dht + sos
        + bytes(buf) + b"\xff\xd9"
    )


def make_wav(
    duration_ms: int, sample_rate: int = 8000, samples: bytes | None = None
) -> bytes:
    """Build a minimal valid 8-bit mono PCM WAV of the given duration.

    ``samples`` is the raw unsigned-8-bit sample stream (len must equal
    ``sample_rate * duration_ms // 1000``; silence when omitted) — how the
    ``_wav_content`` sample-decode path gets exercised by fixtures.
    """
    n_samples = sample_rate * duration_ms // 1000
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate, 1, 8)
    data = bytes(n_samples) if samples is None else samples
    assert len(data) == n_samples
    riff_size = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) rows


def make_gif(
    width: int, height: int, pixels: bytes | None = None, interlaced: bool = False
) -> bytes:
    """Build a valid GIF89a. Header-only when ``pixels`` is omitted
    (screen descriptor + trailer — dims parse, content degrades to NULL);
    with ``pixels`` (row-major luma, len == width*height) a full image:
    256-entry grayscale global color table (palette index == luma) + a
    REAL LZW-compressed index stream in <=255-byte sub-blocks.
    ``interlaced`` stores the rows in the GIF87a four-pass order and sets
    the image descriptor's interlace flag."""
    if pixels is None:
        return (
            b"GIF89a" + struct.pack("<HH", width, height)
            + bytes([0x00, 0x00, 0x00])  # no global color table, bg, aspect
            + b"\x3b"  # trailer
        )
    assert len(pixels) == width * height
    if interlaced:
        pixels = b"".join(
            pixels[r * width : (r + 1) * width]
            for start, step in _GIF_INTERLACE_PASSES
            for r in range(start, height, step)
        )
    gct = bytes(v for i in range(256) for v in (i, i, i))
    lzw = _lzw_encode(8, pixels)
    blocks = b"".join(
        bytes([min(255, len(lzw) - i)]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF89a" + struct.pack("<HH", width, height)
        + bytes([0xF7, 0x00, 0x00])  # GCT present, 8-bit, bg 0, aspect 0
        + gct
        + b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        + bytes([0x40 if interlaced else 0x00])
        + bytes([8])  # LZW min code size
        + blocks + b"\x00"  # sub-blocks + terminator
        + b"\x3b"
    )


def make_flac(
    duration_ms: int, sample_rate: int = 8000, samples: bytes | None = None
) -> bytes:
    """Build a valid mono 8-bit FLAC. Header-only (fLaC magic + STREAMINFO)
    when ``samples`` is omitted — duration parses, content degrades to NULL.
    With ``samples`` (len == sample_rate * duration_ms // 1000): real audio
    frames, <=4096 samples each, VERBATIM subframes, 16-bit blocksize-1
    header form, UTF-8-coded frame numbers, true CRC-8/CRC-16 checksums —
    the fixture side of :func:`_flac_content`."""
    total_samples = sample_rate * duration_ms // 1000
    packed = (sample_rate << 44) | (0 << 41) | (7 << 36) | total_samples  # mono, 8bps
    streaminfo = (
        struct.pack(">HH", 4096, 4096)      # min/max blocksize
        + b"\x00\x00\x00" * 2               # min/max framesize (unknown)
        + struct.pack(">Q", packed)
        + bytes(16)                          # md5 of unencoded audio (zeroed)
    )
    out = b"fLaC" + bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo
    if samples is None:
        return out
    assert len(samples) == total_samples

    def utf8_number(n: int) -> bytes:
        assert n < 0x80  # <=127 frames is plenty for fixtures
        return bytes([n])

    frames = bytearray()
    for fno, start in enumerate(range(0, total_samples, 4096)):
        block = samples[start : start + 4096]
        header = (
            b"\xff\xf8"                       # sync + fixed blocking strategy
            + bytes([(0b0111 << 4) | 0b0000])  # 16-bit blocksize-1; rate: STREAMINFO
            + bytes([(0 << 4) | (0b001 << 1)])  # mono; 8 bits/sample
            + utf8_number(fno)
            + struct.pack(">H", len(block) - 1)
        )
        body = header + bytes([_crc8(header)]) + b"\x02" + block
        frames += body + struct.pack(">H", _crc16(body))
    return out + bytes(frames)


def make_mp4(
    width: int, height: int, duration_ms: int, timescale: int = 1000
) -> bytes:
    """Build a minimal structurally-valid MP4 header (test fixture):
    ftyp + moov(mvhd + trak(tkhd)). No media data — header facts only."""

    def box(btype: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data) + 8) + btype + data

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation/modification time
        + struct.pack(">II", timescale, duration_ms * timescale // 1000)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + bytes(10)  # reserved
        + matrix
        + bytes(24)  # pre_defined
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"  # version 0, flags: enabled|in_movie|in_preview
        + struct.pack(">IIII", 0, 0, 1, 0)  # times, track_ID, reserved
        + struct.pack(">I", duration_ms * timescale // 1000)
        + bytes(8)  # reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, alt_group, volume, reserved
        + matrix
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed point
    )
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    return ftyp + box(b"moov", mvhd + box(b"trak", tkhd))


# ---------------------------------------------------------------------------
# Deterministic six-format media synthesizer (driver-graded surface).
#
# Every synthesis parameter is a closed-form function of doc_id, so the
# DuckDB oracle (oracle_docs.multimodal_features_sql) can RE-DERIVE the
# expected decode output from doc_id arithmetic alone — an independent
# re-derivation, not a re-run of these decoders. The grid below is the
# single source of truth for both sides.
#
# Shapes: dims entries are (base, mod, div) -> base + (doc_id // div) % mod;
# duration entries are (base, mod, step) -> base + (doc_id % mod) * step
# (step chosen so sample counts divide the 8 kHz rate exactly — the decoded
# duration is then EXACTLY the requested one, no rounding slop).
SYNTH_FORMATS = ("png", "jpeg", "gif", "wav", "flac", "mp4")
SYNTH_DIMS = {
    "png": ((4, 13, 1), (4, 11, 1)),
    "jpeg": ((16, 240, 1), (16, 240, 7)),
    "gif": ((8, 100, 1), (8, 100, 3)),
    "mp4": ((320, 64, 1), (240, 64, 5)),
}
SYNTH_MS = {"wav": (500, 97, 37), "flac": (500, 89, 41), "mp4": (1000, 113, 29)}
SYNTH_PNG_FILTERS = 5  # filter_type = doc_id % 5 — every unfilter path runs

_CYCLE = bytes(range(256))


def _cycle_bytes(start: int, n: int) -> bytes:
    """n bytes of the sequence (start + i) % 256 — the synth sample/pixel law."""
    s = start % 256
    return (_CYCLE * (n // 256 + 2))[s : s + n]


def _grid_dim(doc_id: int, spec: tuple[int, int, int]) -> int:
    base, mod, div = spec
    return base + (doc_id // div) % mod


def _grid_ms(doc_id: int, spec: tuple[int, int, int]) -> int:
    base, mod, step = spec
    return base + (doc_id % mod) * step


def synth_payload(doc_id: int) -> bytes:
    """One deterministic container payload per id, format cycling by id%6.

    PNG pixels are per-row constant luma ``(doc_id + row) % 256`` — varying
    down the column so the Up/Average/Paeth unfilters do real work — with
    the scanline filter itself cycling ``doc_id % 5``.
    """
    fmt = SYNTH_FORMATS[doc_id % 6]
    if fmt == "png":
        w, h = (_grid_dim(doc_id, s) for s in SYNTH_DIMS["png"])
        pixels = b"".join(
            bytes([(doc_id + r) % 256]) * w for r in range(h)
        )
        return make_png(w, h, pixels, filter_type=doc_id % SYNTH_PNG_FILTERS)
    if fmt == "jpeg":
        jw, jh = (_grid_dim(doc_id, s) for s in SYNTH_DIMS["jpeg"])
        # constant per 8-row block band: (doc_id + band) % 256 — DC-only
        # blocks, so the lossy codec round-trips these exactly
        pixels = b"".join(
            bytes([(doc_id + r // 8) % 256]) * jw for r in range(jh)
        )
        return make_jpeg(jw, jh, pixels)
    if fmt == "gif":
        gw, gh = (_grid_dim(doc_id, s) for s in SYNTH_DIMS["gif"])
        # same per-row (doc_id + row) % 256 luma law as PNG, through the
        # grayscale palette — the oracle reuses the wrapped-sum close form
        pixels = b"".join(bytes([(doc_id + r) % 256]) * gw for r in range(gh))
        return make_gif(gw, gh, pixels)
    if fmt == "wav":
        d = _grid_ms(doc_id, SYNTH_MS["wav"])
        # real PCM samples on the same (doc_id + i) % 256 law as PNG rows,
        # so the oracle's closed-form wrapped-sum covers audio content too
        return make_wav(d, samples=_cycle_bytes(doc_id, 8 * d))
    if fmt == "flac":
        d = _grid_ms(doc_id, SYNTH_MS["flac"])
        # verbatim-frame samples on the same law as WAV — the oracle's
        # closed-form branch only differs in the duration grid
        return make_flac(d, samples=_cycle_bytes(doc_id, 8 * d))
    d = _grid_ms(doc_id, SYNTH_MS["mp4"])
    if (doc_id // 6) % 2:
        # odd mp4 rows carry a raw-PCM audio track (same sample law) so the
        # sample-table decode path is driver-graded; even rows stay video
        return make_mp4_audio(d, samples=_cycle_bytes(doc_id, 8 * d))
    w, h = (_grid_dim(doc_id, s) for s in SYNTH_DIMS["mp4"])
    return make_mp4(w, h, d)


def synth_media(docs: DataFrame) -> DataFrame:
    """Materialize the six-format binary media table keyed by doc_id.

    Arrow-batched ``mapInPandas`` — payload building is row-local (no
    shuffle, no driver collect), the stand-in for scanning a real blob
    column at scale; ``decode_media`` downstream is the graded operator.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": [SYNTH_FORMATS[i % 6] for i in ids],
                    "payload": [synth_payload(i) for i in ids],
                }
            )

    return docs.select("doc_id").mapInPandas(
        gen, schema="media_id bigint, kind string, payload binary"
    )


def make_mp4_audio(
    duration_ms: int,
    sample_rate: int = 8000,
    samples: bytes | None = None,
    n_chunks: int = 1,
) -> bytes:
    """Build a structurally-valid MP4 carrying an UNCOMPRESSED 8-bit mono
    PCM audio track (QuickTime ``raw `` sample entry): ftyp + moov(mvhd +
    trak(tkhd + mdia(mdhd + hdlr'soun' + minf(smhd + stbl(stsd + stts +
    stsc + stsz + stco))))) + mdat. The stco chunk offset is patched in a
    second pass once the header length is known — the fixture side of
    :func:`_mp4_content`."""
    n_samples = sample_rate * duration_ms // 1000
    if samples is None:
        samples = bytes(n_samples)
    assert len(samples) == n_samples and 1 <= n_chunks <= n_samples
    spc = (n_samples + n_chunks - 1) // n_chunks  # last chunk may be short
    sizes = [min(spc, n_samples - i * spc) for i in range(n_chunks)]

    def box(btype: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data) + 8) + btype + data

    def build(mdat_off: int) -> bytes:
        matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        dur = duration_ms  # timescale 1000 -> ticks == ms
        mvhd = box(
            b"mvhd",
            bytes(4) + struct.pack(">II", 0, 0)
            + struct.pack(">II", 1000, dur)
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + bytes(10) + matrix + bytes(24) + struct.pack(">I", 2),
        )
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07" + struct.pack(">IIII", 0, 0, 1, 0)
            + struct.pack(">I", dur) + bytes(8)
            + struct.pack(">HHHH", 0, 0, 0x0100, 0)  # audio: volume set, no dims
            + matrix + struct.pack(">II", 0, 0),
        )
        mdhd = box(
            b"mdhd",
            bytes(4) + struct.pack(">II", 0, 0)
            + struct.pack(">II", sample_rate, n_samples)
            + struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )
        hdlr = box(b"hdlr", bytes(4) + bytes(4) + b"soun" + bytes(12) + b"\x00")
        smhd = box(b"smhd", bytes(4) + struct.pack(">HH", 0, 0))
        entry = box(
            b"raw ",
            bytes(6) + struct.pack(">H", 1)            # reserved + data ref index
            + struct.pack(">HHI", 0, 0, 0)             # version/revision/vendor
            + struct.pack(">HH", 1, 8)                 # channels, sample size
            + struct.pack(">HH", 0, 0)                 # compression id, packet size
            + struct.pack(">I", sample_rate << 16),    # rate, 16.16
        )
        stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
        stts = box(b"stts", bytes(4) + struct.pack(">III", 1, n_samples, 1))
        # one stsc run for the equal-size chunks + one for a short tail
        runs = [(1, sizes[0])]
        if len(sizes) > 1 and sizes[-1] != sizes[0]:
            runs.append((len(sizes), sizes[-1]))
        stsc = box(
            b"stsc",
            bytes(4) + struct.pack(">I", len(runs))
            + b"".join(struct.pack(">III", first, per, 1) for first, per in runs),
        )
        stsz = box(b"stsz", bytes(4) + struct.pack(">II", 1, n_samples))
        starts = [mdat_off + i * spc for i in range(n_chunks)]
        stco = box(
            b"stco",
            bytes(4) + struct.pack(">I", n_chunks)
            + b"".join(struct.pack(">I", o) for o in starts),
        )
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = box(b"minf", smhd + stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
        return ftyp + moov + box(b"mdat", samples)

    # two-pass: header length is offset-independent (stco is fixed-width)
    probe = build(0)
    mdat_payload_off = len(probe) - n_samples
    return build(mdat_payload_off)


def _fake_features(kind: str, payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a real decoder: dims/duration from bytes."""
    h = hashlib.md5(payload).digest()
    if kind == "image":
        return 64 + h[0] % 192, 64 + h[1] % 192, 0
    if kind == "audio":
        return 0, 0, 1000 + int.from_bytes(h[2:4], "big") % 60000
    return 320 + h[4] % 64, 240 + h[5] % 64, 1000 + int.from_bytes(h[6:8], "big") % 30000


def _features(kind: str, payload: bytes, deterministic_fake: bool) -> tuple[int, int, int]:
    """Per-row decode: real container parse first, stub only as fallback.

    Dispatch is by the payload's magic bytes, not the claimed ``kind`` — a
    mislabeled column must not route a PNG through the audio path.
    """
    dims = _png_dims(payload) or _jpeg_dims(payload) or _gif_dims(payload)
    if dims is not None:
        return dims[0], dims[1], 0
    dur = _wav_duration_ms(payload)
    if dur is None:
        dur = _flac_duration_ms(payload)
    if dur is not None:
        return 0, 0, dur
    mp4 = _mp4_meta(payload)
    if mp4 is not None:
        return mp4
    if not deterministic_fake:
        raise NotImplementedError(
            f"payload is none of PNG/JPEG/GIF/WAV/FLAC/MP4 and no other media "
            f"decoder is available in this environment (kind={kind!r}); "
            "set deterministic_fake=True for a deterministic stub"
        )
    return _fake_features(kind, payload)


def decode_media(media: DataFrame, deterministic_fake: bool = True) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``.

    PNG, JPEG, GIF, WAV, FLAC, and MP4 payloads are decoded for real
    (pure-stdlib header parses, see ``_png_dims`` / ``_jpeg_dims`` /
    ``_gif_dims`` / ``_wav_duration_ms`` / ``_flac_duration_ms`` /
    ``_mp4_meta``); anything else uses the deterministic stub or raises.
    Real deployment: add PIL/librosa/ffmpeg branches inside the same batch
    loop — the Arrow batch shape, output schema, and partitioning are
    identical.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            feats = [
                _features(k, p, deterministic_fake)
                for k, p in zip(pdf["kind"], payloads)
            ]
            # content stats where the payload FULLY decodes: PNG pixels
            # (zlib+unfilter), WAV PCM samples (uncompressed byte read) and
            # GIF pixels (real LZW decode + palette mapping); the remaining
            # entropy/DCT codecs keep NULLs — degrade, never fake
            content = [
                _png_content(p)
                or _jpeg_content(p)
                or _wav_content(p)
                or _gif_content(p)
                or _flac_content(p)
                or _mp4_content(p)
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "duration_ms": [f[2] for f in feats],
                    "mean_luma": [c[0] if c else None for c in content],
                    "max_luma": [c[1] if c else None for c in content],
                    "nonzero_frac": [c[2] if c else None for c in content],
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
