"""Media fixture builders and the six-format synthetic media table.

The builders write small valid PNG, JPEG, GIF, WAV, FLAC and MP4 payloads,
the encode side of the decoders in ``operators/multimodal.py``; tests and
the fuzz corpus use them. ``synth_payload``/``synth_media`` make one
payload per doc_id from the ``SYNTH_*`` grid, which
``oracle_docs.multimodal_features_sql`` reads too, so the DuckDB oracle
re-derives the expected decode output from doc_id arithmetic alone.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.multimodal import _PNG_SIGNATURE, _build_huffman, _crc8, _paeth


def _lzw_encode(min_code_size: int, data: bytes) -> bytes:
    """Real GIF LZW encoder (fixture side of ``operators.multimodal._lzw_decode``).

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


def _crc16(data: bytes) -> int:
    """CRC-16 (poly 0x8005, init 0) — the FLAC frame footer checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


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
    ``operators.multimodal._wav`` sample-decode path gets exercised by fixtures.
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
    the fixture side of ``operators.multimodal._flac``."""
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
# re-derivation, not a re-run of the decoders. The grid below is the
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
    ``operators.multimodal._mp4``."""
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
