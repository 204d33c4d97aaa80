"""Streaming incremental linkage + multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from addressparser_spark.data.media import make_jpeg, make_png, make_wav
from addressparser_spark.data.transcripts import transcripts_df
from addressparser_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _flac,
    _gif,
    _jpeg,
    _Malformed,
    _mp4,
    _png,
    _wav,
    decode_media,
    frame_sample,
    media_from_documents,
)
from addressparser_spark.sources.registry_writer import ParquetRegistryWriter
from addressparser_spark.sources.tables import TableStore
from addressparser_spark.streaming.incremental import (
    incremental_linkage,
    turn_rate_stream,
)


def _walk(container, payload):
    """(header facts, content stats) of one container walk; None for the
    part that is malformed."""
    walk = container(payload)
    try:
        header = next(walk)
    except _Malformed:
        return None, None
    try:
        return header, next(walk)
    except _Malformed:
        return header, None


def _dims(container, payload):
    """(width, height) from a container's header, or None."""
    header = _walk(container, payload)[0]
    return header and header[:2]


def _duration(container, payload):
    """duration_ms from a container's header, or None."""
    header = _walk(container, payload)[0]
    return header and header[2]


def _content(container, payload):
    """(mean, max, nonzero_frac) from a container's content walk, or None."""
    return _walk(container, payload)[1]


def test_stream_incremental_linkage_removes_temp_tree(spark, sf_dir, monkeypatch):
    """The driver query's temp tree is removed at exit, also when the stream
    fails: the cleanup is registered before anything can raise."""
    import atexit
    import os

    from addressparser_spark.streaming import driver_queries

    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.append((fn, a, kw)))

    def fail(*_a, **_kw):
        raise RuntimeError("stream failed")

    monkeypatch.setattr(driver_queries, "incremental_linkage", fail)
    with pytest.raises(RuntimeError, match="stream failed"):
        driver_queries.stream_incremental_linkage(spark, sf_dir)
    assert len(registered) == 1
    fn, a, kw = registered[0]
    work = a[0]
    assert os.path.isdir(os.path.join(work, "in"))
    fn(*a, **kw)
    assert not os.path.exists(work)


@pytest.fixture(scope="module")
def two_epochs(spark, sf_dir, tmp_path_factory):
    """``incremental_linkage`` over two files of the same conversations:
    (output dir, whether the session's cache was empty once the stream
    finished)."""
    import glob
    import shutil

    t = transcripts_df(spark, sf_dir)
    base = tmp_path_factory.mktemp("two_epochs")
    in_dir, out_dir, ck_dir = str(base / "in"), str(base / "out"), str(base / "ck")

    first = t.filter(F.col("conv_id") < "conv_000050")
    second = t  # superset: re-delivers batch 1 convs plus the rest
    first.coalesce(1).write.parquet(f"{in_dir}/b1")
    second.coalesce(1).write.parquet(f"{in_dir}/b2")
    # flatten: streaming source wants files in one dir
    files = glob.glob(f"{in_dir}/b*/part-*.parquet")
    for i, f in enumerate(sorted(files)):
        shutil.copy(f, f"{in_dir}/batch_{i}.parquet")
    shutil.rmtree(f"{in_dir}/b1")
    shutil.rmtree(f"{in_dir}/b2")

    spark.catalog.clearCache()  # frames other tests left cached
    q = incremental_linkage(spark, in_dir, out_dir, ck_dir)
    assert q.awaitTermination(120), "stream did not finish"
    released = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return out_dir, released


def test_incremental_linkage_releases_every_persisted_frame(two_epochs):
    """Each epoch releases everything its linkage persisted: a long-running
    stream must not pin one set of frames per micro-batch."""
    assert two_epochs[1]


def test_incremental_linkage_two_batches(spark, two_epochs):
    """Feed the same conversations in two files; registry stays deduped and
    entity ids are stable across batches (content-derived, idempotent)."""
    import glob

    out_dir, _ = two_epochs
    resolved = spark.read.parquet(f"{out_dir}/epoch=*/resolved")
    registry = ParquetRegistryWriter(TableStore(spark, out_dir)).read()
    # registry sigs unique (idempotent merge across overlapping batches)
    assert registry.count() == registry.select("sig").distinct().count()
    # same conv resolved in both epochs -> same entity id
    dup = (
        resolved.groupBy("conv_id")
        .agg(F.count_distinct("entity_id").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup == 0
    assert sorted(glob.glob(f"{out_dir}/epoch=*/resolved")) == [
        f"{out_dir}/epoch=0/resolved", f"{out_dir}/epoch=1/resolved"
    ]

    # append-shaped registry: one delta dir per epoch, and epoch 1's delta
    # holds ONLY additions (no rewrite of epoch 0's entities)
    deltas = sorted(glob.glob(f"{out_dir}/registry/delta_epoch=*"))
    assert len(deltas) == 2, deltas
    d0 = spark.read.parquet(deltas[0]).select("entity_id")
    d1 = spark.read.parquet(deltas[1]).select("entity_id")
    assert d1.join(d0, "entity_id").count() == 0
    assert d0.count() + d1.count() == registry.count()


def test_turn_rate_stream(spark, sf_dir, tmp_path):
    t = transcripts_df(spark, sf_dir)
    in_dir = str(tmp_path / "stream_in")
    t.coalesce(1).write.parquet(in_dir)
    agg = turn_rate_stream(spark, in_dir)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("turn_rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    # append mode emits only watermark-closed windows; with availableNow the
    # final watermark closes all but the trailing window
    rows = spark.sql("SELECT * FROM turn_rates").collect()
    assert q.exception() is None
    roles = {r["role"] for r in rows}
    assert roles <= {"user", "assistant", "tool"}


def test_media_decode_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = media_from_documents(docs)
    feats = decode_media(media).cache()
    n = feats.count()
    assert n == docs.count()
    img = feats.filter(F.col("kind") == "image").first()
    assert img["width"] >= 64 and img["height"] >= 64 and img["duration_ms"] == 0
    aud = feats.filter(F.col("kind") == "audio").first()
    assert aud["width"] == 0 and aud["duration_ms"] >= 1000
    # determinism: rerun yields identical feature hashes
    again = decode_media(media)
    assert (
        feats.select("media_id", "feature_hash")
        .exceptAll(again.select("media_id", "feature_hash"))
        .count()
        == 0
    )


def test_real_png_wav_decode(spark):
    """PNG/WAV payloads decode to TRUE dimensions/durations (no stub), even
    with deterministic_fake=False and regardless of the claimed kind."""
    rows = [
        (1, "image", make_png(640, 480), (len(make_png(640, 480)), "image/png", "t")),
        (2, "image", make_png(1, 10_000), (len(make_png(1, 10_000)), "image/png", "t")),
        (3, "audio", make_wav(2500), (len(make_wav(2500)), "audio/wav", "t")),
        (4, "audio", make_wav(60_000, 44_100), (len(make_wav(60_000, 44_100)), "audio/wav", "t")),
        # mislabeled kind: magic bytes win over the metadata column
        (5, "video", make_png(32, 64), (len(make_png(32, 64)), "image/png", "t")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in decode_media(media, deterministic_fake=False).collect()
    }
    assert (feats[1]["width"], feats[1]["height"], feats[1]["duration_ms"]) == (640, 480, 0)
    assert (feats[2]["width"], feats[2]["height"]) == (1, 10_000)
    assert (feats[3]["width"], feats[3]["duration_ms"]) == (0, 2500)
    assert feats[4]["duration_ms"] == 60_000
    assert (feats[5]["width"], feats[5]["height"]) == (32, 64)

    # parser unit checks: truncated/garbage bytes are rejected, not misparsed
    assert _dims(_png, make_png(7, 9)) == (7, 9)
    assert _dims(_png, make_png(7, 9)[:20]) is None
    assert _dims(_png, b"not a png at all, but 24+ bytes long....") is None
    assert _duration(_wav, make_wav(1234)) == 1234
    assert _duration(_wav, make_wav(1234)[:10]) is None
    assert _duration(_wav, b"RIFFxxxxNOPE" + bytes(32)) is None


def test_real_jpeg_decode(spark):
    """JPEG payloads decode to TRUE dimensions via the SOF segment walk."""
    rows = [
        (1, "image", make_jpeg(1024, 768), (len(make_jpeg(1024, 768)), "image/jpeg", "t")),
        # mislabeled kind: magic bytes win over the metadata column
        (2, "audio", make_jpeg(16, 16), (len(make_jpeg(16, 16)), "image/jpeg", "t")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in decode_media(media, deterministic_fake=False).collect()
    }
    assert (feats[1]["width"], feats[1]["height"], feats[1]["duration_ms"]) == (1024, 768, 0)
    assert (feats[2]["width"], feats[2]["height"]) == (16, 16)

    # parser unit checks: truncation/garbage/EOI-first are rejected
    assert _dims(_jpeg, make_jpeg(7, 9)) == (7, 9)
    assert _dims(_jpeg, make_jpeg(7, 9)[:6]) is None
    assert _dims(_jpeg, b"\xff\xd8\xff\xd9") is None
    assert _dims(_jpeg, b"not a jpeg, just 24+ bytes long....") is None
    assert _dims(_png, make_jpeg(7, 9)) is None


def test_real_mp4_decode(spark):
    """MP4 payloads decode to TRUE width/height/duration via the moov box
    walk — every media kind (image/audio/video) now has a real parser."""
    from addressparser_spark.data.media import make_mp4

    clip = make_mp4(640, 480, 12500)
    hd = make_mp4(1920, 1080, 7333, timescale=90000)
    rows = [
        (1, "video", clip, (len(clip), "video/mp4", "t")),
        # mislabeled kind: magic bytes win over the metadata column
        (2, "image", hd, (len(hd), "video/mp4", "t")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in decode_media(media, deterministic_fake=False).collect()
    }
    assert (feats[1]["width"], feats[1]["height"], feats[1]["duration_ms"]) == (640, 480, 12500)
    assert (feats[2]["width"], feats[2]["height"], feats[2]["duration_ms"]) == (1920, 1080, 7333)

    # parser unit checks: truncation/garbage never crash, non-MP4 rejects
    assert _walk(_mp4, clip)[0] == (640, 480, 12500)
    for i in range(0, len(clip), 7):
        _walk(_mp4, clip[:i])  # must not raise
    assert _walk(_mp4, b"not an mp4, merely 24+ bytes long....")[0] is None
    assert _walk(_mp4, b"")[0] is None
    # frame_sample consumes the REAL duration: 12500ms / 5000ms steps -> 3 offsets
    frames = frame_sample(media.filter(F.col("kind") == "video"), every_ms=5000)
    assert frames.count() == 3

    # malformed trak ending in an EMPTY (size==8) tkhd box: the walk must
    # stop, not raise — the header walk keeps _boxes's stops-not-raises contract
    import struct as _struct

    def _box(btype: bytes, data: bytes) -> bytes:
        return _struct.pack(">I", len(data) + 8) + btype + data

    mvhd_ok = clip[clip.index(b"mvhd") - 4 : clip.index(b"mvhd") - 4 + 108]
    empty_tkhd = _box(b"moov", mvhd_ok + _box(b"trak", _box(b"tkhd", b"")))
    malformed = clip[: clip.index(b"moov") - 4] + empty_tkhd
    assert _walk(_mp4, malformed)[0] == (0, 0, 12500)  # duration survives, dims degrade


def test_real_gif_flac_decode(spark):
    """GIF and FLAC payloads decode to TRUE dimensions/durations via their
    fixed header layouts (logical screen descriptor / STREAMINFO bit-unpack)."""
    from addressparser_spark.data.media import make_flac, make_gif

    gif = make_gif(320, 200)
    flac = make_flac(2500)
    hires = make_flac(90_000, sample_rate=96_000)
    rows = [
        (1, "image", gif, (len(gif), "image/gif", "t")),
        (2, "audio", flac, (len(flac), "audio/flac", "t")),
        # mislabeled kind: magic bytes win over the metadata column
        (3, "video", hires, (len(hires), "audio/flac", "t")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in decode_media(media, deterministic_fake=False).collect()
    }
    assert (feats[1]["width"], feats[1]["height"], feats[1]["duration_ms"]) == (320, 200, 0)
    assert (feats[2]["width"], feats[2]["duration_ms"]) == (0, 2500)
    assert feats[3]["duration_ms"] == 90_000

    # parser unit checks: truncation/garbage rejected, not misparsed
    assert _dims(_gif, make_gif(7, 9)) == (7, 9)
    assert _dims(_gif, make_gif(7, 9)[:8]) is None
    assert _dims(_gif, b"GIF99a" + bytes(8)) is None
    assert _duration(_flac, make_flac(1234)) == 1234
    assert _duration(_flac, make_flac(1234)[:20]) is None
    assert _duration(_flac, b"fLaC" + bytes([0x81]) + bytes(40)) is None  # first block not STREAMINFO
    assert _duration(_flac, b"not flac, just 42+ bytes of padding.......") is None


def test_media_decode_stub_raises(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(3)
    media = media_from_documents(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        decode_media(media, deterministic_fake=False).collect()


def test_frame_sample(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = media_from_documents(docs)
    frames = frame_sample(media, every_ms=10000)
    row = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).first()
    assert row["n"] >= 1


def test_png_pixel_decode_all_filters(spark):
    """Full PNG pixel decode (zlib inflate + unfilter): identical content
    stats regardless of which scanline filter the ENCODER chose, and the
    stats equal the ground truth computed from the raw pixel array."""
    import struct
    import zlib

    from addressparser_spark.operators.multimodal import _PNG_SIGNATURE

    w, h = 16, 8
    pixels = bytes((x + y * w) % 256 for y in range(h) for x in range(w))
    want_mean = round(sum(pixels) / len(pixels), 6)
    want_max = max(pixels)
    want_nonzero = round(sum(1 for v in pixels if v) / len(pixels), 6)
    for ftype in range(5):
        got = _content(_png, make_png(w, h, pixels=pixels, filter_type=ftype))
        assert got == (want_mean, want_max, want_nonzero), f"filter {ftype}"

    # RGB color type: luma is the integer channel mean (r+g+b)//3
    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    rgb_rows = [
        bytes([255, 0, 0, 0, 255, 0]),   # red, green  -> luma 85, 85
        bytes([0, 0, 0, 30, 60, 93]),    # black, gray -> luma 0, 61
    ]
    rgb_png = (
        _PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(b"\x00" + r for r in rgb_rows)))
        + chunk(b"IEND", b"")
    )
    mean, mx, nz = _content(_png, rgb_png)
    assert (mean, mx, nz) == (round((85 + 85 + 0 + 61) / 4, 6), 85, 0.75)

    # an exact 6-decimal tie: one pixel of luma 1 in 128 has mean 0.0078125.
    # PNG shares the integer half-up rule, which DuckDB's round agrees with
    # (float round is half-even and would give 0.007812)
    import duckdb

    tie = _content(_png, make_png(16, 8, pixels=bytes([1]) + bytes(127)))
    assert tie == (0.007813, 1, 0.007813)
    assert duckdb.sql("SELECT round(1 / 128, 6)").fetchone()[0] == tie[0]

    # rejects, never crashes: truncation at every offset, garbage, interlace
    full = make_png(w, h, pixels=pixels, filter_type=4)
    for i in range(0, len(full), 11):
        _content(_png, full[:i])
    assert _content(_png, b"not a png but comfortably long enough....") is None

    # mapInPandas surface: content stats ride along for the fully-decodable
    # containers (PNG pixels, WAV PCM samples); compressed codecs stay NULL
    rows = [
        (1, "image", full, (len(full), "image/png", "t")),
        (2, "audio", make_wav(1500), (len(make_wav(1500)), "audio/wav", "t")),
        (3, "image", make_jpeg(32, 16), (len(make_jpeg(32, 16)), "image/jpeg", "t")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r
        for r in decode_media(media, deterministic_fake=False).collect()
    }
    assert feats[1]["mean_luma"] == want_mean
    assert feats[1]["max_luma"] == want_max
    assert feats[1]["nonzero_frac"] == want_nonzero
    # silent WAV: real sample stats, all zero (previously NULL-stubbed)
    assert feats[2]["mean_luma"] == 0.0 and feats[2]["max_luma"] == 0
    assert feats[2]["nonzero_frac"] == 0.0
    # JPEG entropy stream is compressed — content stats stay NULL
    assert feats[3]["mean_luma"] is None and feats[3]["max_luma"] is None


def test_wav_sample_decode():
    """_wav reads the real PCM byte stream: stats match a brute-force
    fold over the same samples (integer half-up rounding at 6 decimals),
    and non-qualifying payloads (non-PCM fmt, stereo, 16-bit, truncation,
    empty data) degrade to None rather than crash."""
    import struct

    from addressparser_spark.data.media import _cycle_bytes, synth_payload

    def ground_truth(samples: bytes):
        n = len(samples)
        total, nz = sum(samples), sum(1 for b in samples if b)
        return (
            ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
            max(samples),
            ((2 * nz * 10**6 + n) // (2 * n)) / 1e6,
        )

    for start, d in ((0, 500), (200, 1000), (255, 2719)):
        samples = _cycle_bytes(start, 8 * d)
        assert samples == bytes((start + i) % 256 for i in range(8 * d))
        assert _content(_wav, make_wav(d, samples=samples)) == ground_truth(samples)

    # the synth law end-to-end for a wav doc_id (3 mod 6)
    payload = synth_payload(9)  # 9 % 6 == 3 -> wav, d = 500 + 9*37, s = 9
    d = 500 + (9 % 97) * 37
    assert _content(_wav, payload) == ground_truth(_cycle_bytes(9, 8 * d))

    good = make_wav(500, samples=_cycle_bytes(1, 4000))
    assert _content(_wav, good) is not None
    for i in range(0, len(good), 997):
        _content(_wav, good[:i])  # truncation sweep: never raises
    assert _content(_wav, b"RIFFxxxxWAVE") is None
    assert _content(_wav, good[:44]) is None  # header only, empty data chunk
    # non-PCM format code / stereo / 16-bit all demote to header-only
    bad_fmt = bytearray(good)
    bad_fmt[20:22] = struct.pack("<H", 3)  # IEEE float, not PCM
    assert _content(_wav, bytes(bad_fmt)) is None
    stereo = bytearray(good)
    stereo[22:24] = struct.pack("<H", 2)
    assert _content(_wav, bytes(stereo)) is None
    wide = bytearray(good)
    wide[34:36] = struct.pack("<H", 16)
    assert _content(_wav, bytes(wide)) is None


def test_truncated_wav_decodes_with_null_stats(spark):
    """A WAV cut inside its ``fmt `` chunk (20-31 bytes) is not a WAV: each
    payload gets one row, stub dims and NULL content stats. The earlier
    decoder read the byte rate past the end and failed the whole task."""
    wav = make_wav(100)
    rows = [
        (n, "audio", wav[:n], (n, "audio/wav", "t")) for n in range(20, 32)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_media(media, deterministic_fake=True).collect()
    assert sorted(r["media_id"] for r in feats) == list(range(20, 32))
    for r in feats:
        assert (r["mean_luma"], r["max_luma"], r["nonzero_frac"]) == (None, None, None)


def test_gif_lzw_round_trip():
    """The LZW pair is a REAL codec: encoder output decodes back to the
    exact input across code-width growth (9->12 bits) and the table-full
    CLEAR/reset path, and the decoder survives truncation/garbage."""
    from addressparser_spark.data.media import _lzw_encode
    from addressparser_spark.operators.multimodal import _lzw_decode

    # varied deterministic stream long enough to fill the 12-bit table and
    # force a mid-stream CLEAR (new dict entry on almost every symbol)
    noisy = bytes((i * 37 + (i >> 3) * 11 + (i >> 7)) % 256 for i in range(20_000))
    for data in (
        b"\x00",
        bytes(300),                      # runs: multi-symbol table entries
        bytes(range(256)) * 3,           # cycling law used by the synthesizer
        noisy,
    ):
        enc = _lzw_encode(8, data)
        assert _lzw_decode(8, enc) == data
    enc = _lzw_encode(8, noisy)
    for i in range(0, len(enc), 499):
        _lzw_decode(8, enc[:i])  # truncation sweep: never raises
    assert _lzw_decode(8, b"") == b""


def test_gif_pixel_decode():
    """_gif decodes real GIF image data: stats match a brute-force
    fold over the pixels; header-only / interlaced / truncated payloads
    degrade to None."""
    from addressparser_spark.data.media import make_gif, synth_payload

    def ground_truth(pixels: bytes):
        n = len(pixels)
        total, nz = sum(pixels), sum(1 for b in pixels if b)
        return (
            ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
            max(pixels),
            ((2 * nz * 10**6 + n) // (2 * n)) / 1e6,
        )

    for w, h, seed in ((8, 8, 0), (31, 17, 200), (107, 107, 250)):
        pixels = b"".join(bytes([(seed + r) % 256]) * w for r in range(h))
        gif = make_gif(w, h, pixels)
        assert _dims(_gif, gif) == (w, h)
        assert _content(_gif, gif) == ground_truth(pixels)

    # synth law end-to-end for a gif doc_id (2 mod 6): w=8+id%100, h=8+(id//3)%100
    payload = synth_payload(2)
    pixels = b"".join(bytes([(2 + r) % 256]) * (8 + 2) for r in range(8 + 0))
    assert _content(_gif, payload) == ground_truth(pixels)

    assert _content(_gif, make_gif(9, 9)) is None  # header-only: no image data
    full = make_gif(16, 16, bytes(range(256)))
    for i in range(0, len(full), 101):
        _content(_gif, full[:i])  # truncation sweep: never raises
    # interlaced storage permutes row order; the stats are order-invariant
    # folds, so a four-pass image must yield identical values
    body = bytes(range(256))
    assert make_gif(16, 16, body, interlaced=True) != full  # really reordered
    assert _content(_gif, make_gif(16, 16, body, interlaced=True)) == _content(_gif, full)
    assert _content(_gif, b"GIF89a" + bytes(20)) is None


def test_flac_verbatim_decode():
    """_flac parses real FLAC frames (sync, header codes, UTF-8
    frame number, VERIFIED CRC-8) and reads the verbatim sample stream;
    stats match a brute-force fold. Header-only payloads, CRC corruption,
    truncation and non-verbatim subframes all degrade to None."""
    from addressparser_spark.data.media import _cycle_bytes, make_flac, synth_payload

    def ground_truth(samples: bytes):
        n = len(samples)
        total, nz = sum(samples), sum(1 for b in samples if b)
        return (
            ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
            max(samples),
            ((2 * nz * 10**6 + n) // (2 * n)) / 1e6,
        )

    for start, d in ((0, 500), (130, 1000), (255, 4108)):  # multi-frame: up to 9 frames
        samples = _cycle_bytes(start, 8 * d)
        flac = make_flac(d, samples=samples)
        assert _duration(_flac, flac) == d
        assert _content(_flac, flac) == ground_truth(samples)

    # synth law end-to-end for a flac doc_id (4 mod 6)
    payload = synth_payload(4)
    d = 500 + (4 % 89) * 41
    assert _content(_flac, payload) == ground_truth(_cycle_bytes(4, 8 * d))

    assert _content(_flac, make_flac(700)) is None  # header-only: no frames
    good = make_flac(600, samples=_cycle_bytes(7, 4800))
    for i in range(0, len(good), 331):
        _content(_flac, good[:i])  # truncation sweep: never raises
    # a cut inside the last frame's CRC-16 footer leaves every sample intact
    # but is still a truncated stream
    assert _content(_flac, good[:-1]) is None
    assert _content(_flac, good[:-2]) is None
    # corrupt the first frame's CRC-8 byte: decoder must reject, not misread
    streaminfo_end = 8 + 34
    bad = bytearray(good)
    # frame starts right after STREAMINFO; header = 2 sync + 1 + 1 + 1 utf8 + 2 bs
    hdr_len = 2 + 1 + 1 + 1 + 2
    bad[streaminfo_end + hdr_len] ^= 0xFF
    assert _content(_flac, bytes(bad)) is None
    # non-verbatim subframe type byte: reject
    bad2 = bytearray(good)
    bad2[streaminfo_end + hdr_len + 1] = 0x00  # CONSTANT subframe instead
    assert _content(_flac, bytes(bad2)) is None


def test_mp4_raw_pcm_decode():
    """_mp4 walks the real sample tables (hdlr 'soun' -> stsd raw
    entry -> stsz/stco) and reads uncompressed PCM out of mdat; video-only
    MP4s, compressed entries and broken layouts degrade to None."""
    from addressparser_spark.data.media import (
        _cycle_bytes,
        make_mp4,
        make_mp4_audio,
        synth_payload,
    )

    def ground_truth(samples: bytes):
        n = len(samples)
        total, nz = sum(samples), sum(1 for b in samples if b)
        return (
            ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
            max(samples),
            ((2 * nz * 10**6 + n) // (2 * n)) / 1e6,
        )

    for start, d in ((0, 500), (77, 1337)):
        samples = _cycle_bytes(start, 8 * d)
        clip = make_mp4_audio(d, samples=samples)
        assert _walk(_mp4, clip)[0] == (0, 0, d)  # header facts: audio track, no dims
        assert _content(_mp4, clip) == ground_truth(samples)

    # synth law end-to-end: doc_id 11 -> mp4 (11%6==5), audio ((11//6)%2==1)
    d11 = 1000 + (11 % 113) * 29
    assert _content(_mp4, synth_payload(11)) == ground_truth(_cycle_bytes(11, 8 * d11))
    # doc_id 5 -> mp4 video ((5//6)%2==0): header dims, NULL content
    assert _content(_mp4, synth_payload(5)) is None
    assert _duration(_mp4, synth_payload(5)) == 1000 + 5 * 29

    # multi-chunk layouts: stsc chunk-run map + per-chunk stco offsets,
    # including a short tail chunk — stats identical to the 1-chunk form
    for nch in (3, 7):
        samples = _cycle_bytes(9, 8 * 700)
        multi = make_mp4_audio(700, samples=samples, n_chunks=nch)
        assert _content(_mp4, multi) == ground_truth(samples), nch

    good = make_mp4_audio(600, samples=_cycle_bytes(3, 4800))
    for i in range(0, len(good), 173):
        _content(_mp4, good[:i])  # truncation sweep: never raises
    assert _content(_mp4, make_mp4(640, 480, 2000)) is None  # video-only
    # compressed-format sample entry: reject
    bad = bytearray(good)
    idx = bad.find(b"raw ")
    bad[idx : idx + 4] = b"mp4a"
    assert _content(_mp4, bytes(bad)) is None


def test_jpeg_dc_only_decode():
    """_jpeg decodes the real entropy layer (DHT Huffman build, DC
    prediction, sign extension, byte unstuffing) for the DC-only baseline
    subset; blocks with AC energy, header-only payloads and truncation
    degrade to None."""
    from addressparser_spark.data.media import synth_payload

    def gt(pixels: bytes):
        n = len(pixels)
        total, nz = sum(pixels), sum(1 for b in pixels if b)
        return (
            ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
            max(pixels),
            ((2 * nz * 10**6 + n) // (2 * n)) / 1e6,
        )

    # edge blocks, wrap past 255, full-byte and partial-byte final pads
    for w, h, seed in ((8, 8, 0), (17, 31, 120), (255, 240, 250), (16, 255, 252)):
        pixels = b"".join(bytes([(seed + r // 8) % 256]) * w for r in range(h))
        j = make_jpeg(w, h, pixels)
        assert _dims(_jpeg, j) == (w, h)
        assert _content(_jpeg, j) == gt(pixels), (w, h, seed)

    # synth law end-to-end for a jpeg doc_id (1 mod 6)
    pix = b"".join(bytes([(1 + r // 8) % 256]) * 17 for r in range(16))
    assert _content(_jpeg, synth_payload(1)) == gt(pix)

    assert _content(_jpeg, make_jpeg(9, 9)) is None  # header-only: no scan
    full = make_jpeg(32, 24, bytes([7]) * 32 * 24)
    for i in range(0, len(full), 37):
        _content(_jpeg, full[:i])  # truncation sweep: never raises
    # corrupt a scan byte: a desynced Huffman stream must degrade (None or
    # a clean parse of whatever validly decodes) — never raise
    bad = bytearray(full)
    bad[-4] ^= 0x55
    _content(_jpeg, bytes(bad))


def test_flac_blocksize_code_variants():
    """Hand-crafted frames exercise the blocksize codes the fixture encoder
    never emits: fixed-size codes (0b0001 -> 192), the 8-bit form (0b0110)
    and the 256<<n family (0b1001 -> 512)."""
    import struct

    from addressparser_spark.data.media import _crc16, make_flac
    from addressparser_spark.operators.multimodal import _crc8

    def craft(blocks):  # blocks: list of (bs_code_byte, extra, samples)
        total = sum(len(s) for _, _, s in blocks)
        head = make_flac(total * 1000 // 8000, 8000)  # header for that total
        assert total % 8 == 0  # keep duration integral at 8 kHz
        out = bytearray(head)
        for fno, (code, extra, samples) in enumerate(blocks):
            hdr = b"\xff\xf8" + bytes([code]) + b"\x02" + bytes([fno]) + extra
            body = hdr + bytes([_crc8(hdr)]) + b"\x02" + samples
            out += body + struct.pack(">H", _crc16(body))
        return bytes(out)

    def gt(samples):
        n = len(samples)
        total, nz = sum(samples), sum(1 for b in samples if b)
        return (
            ((2 * total * 10**6 + n) // (2 * n)) / 1e6,
            max(samples),
            ((2 * nz * 10**6 + n) // (2 * n)) / 1e6,
        )

    s192 = bytes((i * 3) % 256 for i in range(192))
    s512 = bytes((7 + i) % 256 for i in range(512))
    s96 = bytes(range(96))
    # fixed code 0b0001 = 192 samples
    flac = craft([(0x10, b"", s192)])
    assert _content(_flac, flac) == gt(s192)
    # 256<<1 code 0b1001 = 512 samples, then an 8-bit-form (0b0110) tail
    flac = craft([(0x90, b"", s512), (0x60, bytes([95]), s96)])
    assert _content(_flac, flac) == gt(s512 + s96)
    # reserved blocksize code 0b0000 -> reject
    assert _content(_flac, craft([(0x00, b"", s192)])) is None


def test_gif_local_color_table():
    """An image with a LOCAL color table (no global one) decodes through
    the local palette — the descriptor-level branch of _gif."""
    import struct

    from addressparser_spark.data.media import _lzw_encode, make_gif

    w = h = 8
    pixels = bytes((40 + i) % 256 for i in range(w * h))
    lzw = _lzw_encode(8, pixels)
    blocks = b"".join(
        bytes([min(255, len(lzw) - i)]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    local = (
        b"GIF89a" + struct.pack("<HH", w, h)
        + bytes([0x00, 0x00, 0x00])  # NO global color table
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        + bytes([0x87])  # local color table, 256 entries
        + bytes(v for i in range(256) for v in (i, i, i))
        + bytes([8]) + blocks + b"\x00" + b"\x3b"
    )
    want = _content(_gif, make_gif(w, h, pixels))
    assert want is not None
    assert _content(_gif, local) == want
    # no palette anywhere -> None
    no_pal = (
        b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x00, 0x00, 0x00])
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0x00])
        + bytes([8]) + blocks + b"\x00" + b"\x3b"
    )
    assert _content(_gif, no_pal) is None


def test_crafted_malformations_never_raise():
    """Full-length but LYING payloads (declared sizes exceeding actual
    content) must degrade to None, not crash: short DQT, DHT with missing
    symbols, FLAC truncated inside the frame-number field."""
    import struct

    from addressparser_spark.data.media import make_flac
    from addressparser_spark.operators.multimodal import _crc8

    good = make_jpeg(16, 16, bytes([9]) * 256)

    def seg(marker, data):
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(data) + 2) + data

    # DQT whose declared table is cut short (PqTq + only 10 of 64 entries)
    i = good.find(b"\xff\xdb")
    j = good.find(b"\xff", i + 2)
    short_dqt = good[:i] + seg(0xDB, b"\x00" + bytes(10)) + good[j:]
    assert _content(_jpeg, short_dqt) is None

    # DHT declaring 12 symbols but shipping none
    i = good.find(b"\xff\xc4")
    j = good.find(b"\xff", i + 2)
    bad_dht = good[:i] + seg(0xC4, b"\x00" + bytes([0, 12] + [0] * 14)) + good[j:]
    assert _content(_jpeg, bad_dht) is None

    # FLAC whose last bytes end exactly after a frame's UTF-8 number with a
    # 16-bit blocksize code promised but absent
    head = make_flac(192 * 1000 // 8000, 8000)
    hdr = b"\xff\xf8" + bytes([0x60]) + b"\x02" + b"\x00"  # 8-bit form promised
    assert _content(_flac, head + hdr) is None
    assert _content(_flac, head + hdr + bytes([191]) ) is None  # crc byte missing
    # and with a VALID crc over a header whose samples then run out
    hdr2 = b"\xff\xf8" + bytes([0x10]) + b"\x02" + b"\x00"  # fixed 192
    assert _content(_flac, head + hdr2 + bytes([_crc8(hdr2)]) + b"\x02") is None


def test_mp4_multi_trak_no_cross_poisoning():
    """A compressed sound trak with complete sample tables followed by a
    raw-PCM sound trak MISSING its stsz must yield None — one trak's
    sample entry must never pair with another trak's tables."""
    import struct

    from addressparser_spark.data.media import _cycle_bytes, make_mp4_audio
    from addressparser_spark.operators.multimodal import _boxes, _Reader

    original = make_mp4_audio(500, samples=_cycle_bytes(5, 4000))
    assert _content(_mp4, original) is not None
    boxes = {t: (b.pos - 8, b.end) for t, b in _boxes(_Reader(original))}
    fstart, fend = boxes[b"ftyp"]
    mstart, mend = boxes[b"moov"]
    dstart, dend = boxes[b"mdat"]
    inner = {
        t: (b.pos - 8, b.end) for t, b in _boxes(_Reader(original, mstart + 8, mend))
    }
    mvhd = original[slice(*inner[b"mvhd"])]
    trak = original[slice(*inner[b"trak"])]
    trak_mp4a = trak.replace(b"raw ", b"mp4a")  # compressed entry, full tables
    trak_no_stsz = trak.replace(b"stsz", b"free")  # raw entry, tables broken
    body = mvhd + trak_mp4a + trak_no_stsz
    moov = struct.pack(">I", len(body) + 8) + b"moov" + body
    crafted = original[fstart:fend] + moov + original[dstart:dend]
    assert _content(_mp4, crafted) is None
