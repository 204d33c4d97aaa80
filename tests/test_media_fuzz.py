"""Seeded mutation fuzz of the six container decoders.

Every decoder must degrade, never raise: a payload it cannot parse is either
"not this container" (the next container is tried, then the stub) or a header
with NULL content stats. The corpus is built from small fixtures of every
format and three mutation families:

- truncation at every offset;
- 1-3 byte flips from a seeded ``random.Random``;
- every 2- and 4-byte window overwritten with a lying length (0, the
  all-ones maximum, ``len(p)``) in both byte orders.

``goldens/media_fuzz.json`` holds, per format, the sha256 of the per-row
output tuples ``(width, height, duration_ms, mean_luma, max_luma,
nonzero_frac)`` as the earlier two-parser decoder produced them (header
chain plus content chain, ``deterministic_fake=True``), over the rows where
it did not raise, and the indices of the rows where it raised. Those rows
(WAVs cut inside the ``fmt `` chunk) must now decode with NULL stats.

The PNG fixtures have 72 pixels, so their stats have no exact 6-decimal
half ties: PNG now rounds with the shared integer half-up rule, where the
earlier decoder used float ``round`` (half-even), and the two differ only on
such ties.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import random

from addressparser_spark.data.media import (
    make_flac,
    make_gif,
    make_jpeg,
    make_mp4,
    make_mp4_audio,
    make_png,
    make_wav,
)

GOLDEN = pathlib.Path(__file__).parent / "goldens" / "media_fuzz.json"
SEED = 20261018
FLIPS = 200  # flip mutants per fixture
KIND = {"png": "image", "jpeg": "image", "gif": "image",
        "wav": "audio", "flac": "audio", "mp4": "video"}


def _ramp(n: int, step: int = 7) -> bytes:
    return bytes((step * i + 3) % 256 for i in range(n))


def fixtures() -> dict[str, list[bytes]]:
    """Small valid payloads: header-only and content forms of every format."""
    flat = b"".join(bytes([(40 + 30 * (r // 8)) % 256]) * 16 for r in range(16))
    return {
        "png": [make_png(12, 6, _ramp(72), filter_type=4),
                make_png(12, 6, _ramp(72, 13), filter_type=3),
                make_png(12, 6)],
        "jpeg": [make_jpeg(9, 7), make_jpeg(16, 16, flat)],
        "gif": [make_gif(5, 3), make_gif(8, 8, _ramp(64)),
                make_gif(8, 8, _ramp(64, 11), interlaced=True)],
        "wav": [make_wav(5), make_wav(10, samples=_ramp(80))],
        "flac": [make_flac(10), make_flac(10, samples=_ramp(80))],
        "mp4": [make_mp4(64, 48, 1500),
                make_mp4_audio(10, samples=_ramp(80), n_chunks=3),
                make_mp4_audio(5, samples=_ramp(40, 5))],
    }


def _mutants(p: bytes, rng: random.Random) -> list[bytes]:
    out = [p[:i] for i in range(len(p))]
    for _ in range(FLIPS):
        m = bytearray(p)
        for i in rng.sample(range(len(p)), rng.randint(1, 3)):
            m[i] ^= rng.randrange(1, 256)
        out.append(bytes(m))
    for width in (2, 4):
        lies = [(0).to_bytes(width, "big"), b"\xff" * width] + [
            (len(p) % (1 << 8 * width)).to_bytes(width, order)
            for order in ("big", "little")
        ]
        for i in range(len(p) - width + 1):
            out += [p[:i] + v + p[i + width:] for v in lies]
    return [m for m in dict.fromkeys(out) if m != p] + [p]


def corpus() -> dict[str, list[bytes]]:
    rng = random.Random(SEED)
    return {
        fmt: [m for p in payloads for m in _mutants(p, rng)]
        for fmt, payloads in fixtures().items()
    }


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_decoders_never_raise_and_match_golden():
    from addressparser_spark.operators.multimodal import _features

    golden = json.loads(GOLDEN.read_text())
    for fmt, payloads in corpus().items():
        rows = [_features(KIND[fmt], p, True) for p in payloads]
        assert len(rows) == golden["rows"][fmt], fmt
        raised = set(golden["raised"][fmt])
        kept = [r for i, r in enumerate(rows) if i not in raised]
        assert digest(kept) == golden["digests"][fmt], fmt
        for i in raised:
            assert rows[i][3:] == (None, None, None), (fmt, i)
    assert golden["raised"]["wav"], "the golden records the truncated-WAV crash"
