"""Corruption fuzz for the round-8 envelope parsers (MP3 side info,
ADTS, H.264 SPS/NAL walk, MP4 boxes, WebM EBML) — the discipline the
zstd/JPEG/GIF fuzz sweeps established: every seeded bit flip or
truncation must either parse (the flip landed somewhere unchecked) or
raise a NORMAL error within a timebox — never loop unboundedly or
overrun buffers."""

from __future__ import annotations

import random
import signal

import pytest

from xarray_dataaccessor_spark.sources.media import PARSE_ERRORS as _ERRS


class _Timebox:
    def __init__(self, seconds: int = 10):
        self.seconds = seconds

    def __enter__(self):
        signal.signal(
            signal.SIGALRM,
            lambda *_: (_ for _ in ()).throw(
                TimeoutError("parser did not terminate")
            ),
        )
        signal.alarm(self.seconds)

    def __exit__(self, *a):
        signal.alarm(0)


def _sweep(parse, base: bytes, rng, rounds: int = 150):
    with _Timebox(30):
        for _ in range(rounds):
            buf = bytearray(base)
            for _ in range(rng.randrange(1, 4)):
                buf[rng.randrange(len(buf))] ^= 1 << rng.randrange(8)
            try:
                parse(bytes(buf))
            except _ERRS:
                pass
        # truncations at every eighth boundary
        for cut in range(1, len(base), max(1, len(base) // 32)):
            try:
                parse(base[:cut])
            except _ERRS:
                pass


def test_mp3_sideinfo_fuzz():
    from xarray_dataaccessor_spark.sources.media import (
        mp3_scalefactors,
        write_mp3_sideinfo_frames,
    )

    g = [3] * 21
    base = write_mp3_sideinfo_frames(
        [{"scalefacs": [g, g], "scfsi": [0, 1, 0, 1],
          "main_data_begin": 0, "scalefac_compress": [14, 14]}] * 3
    )
    _sweep(mp3_scalefactors, base, random.Random(11))


def test_adts_fuzz():
    from xarray_dataaccessor_spark.sources.media import (
        aac_adts_probe,
        write_adts_frames,
    )

    _sweep(aac_adts_probe, write_adts_frames(12), random.Random(12))


def test_h264_fuzz():
    from xarray_dataaccessor_spark.sources.media import (
        h264_probe,
        write_h264_annexb,
    )

    base = write_h264_annexb(4, 128, 96, profile_idc=100, crop=(1, 1, 1, 1))
    _sweep(h264_probe, base, random.Random(13))


def test_mp4_fuzz():
    from xarray_dataaccessor_spark.sources.media import (
        mp4_probe,
        write_mp4_avc,
    )

    _sweep(mp4_probe, write_mp4_avc(64, 48), random.Random(14))


def test_webm_fuzz():
    from xarray_dataaccessor_spark.sources.media import (
        webm_probe,
        write_webm,
    )

    _sweep(webm_probe, write_webm(), random.Random(15))


def test_ogg_fuzz():
    from xarray_dataaccessor_spark.sources.media import (
        ogg_probe,
        write_ogg_opus,
    )

    _sweep(ogg_probe, write_ogg_opus(), random.Random(16))
