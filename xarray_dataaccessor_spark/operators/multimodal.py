"""Multimodal (binary) column plumbing (SURVEY §7.8 extension).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct beside them. The Spark-side plumbing — schema, partition-friendly
batch iteration, Arrow-batched ``mapInPandas`` UDF signatures — is real
and tested, and the codec step is REAL for the formats that parse purely:
WAV/RIFF PCM+float audio, netpbm and uncompressed BMP images, PNG
(zlib + spec filters incl. Adam7), GIF, Y4M video
(``sources/media.py``), JPEG — baseline SOF0/1 AND progressive SOF2
(``sources/jpeg.py``) — WebP lossless VP8L AND lossy VP8 key frames
with alpha (``sources/webp.py`` + ``sources/vp8.py``), and FLAC
lossless audio (``sources/flac.py``).
The ``codec="fake"`` default keeps plumbing tests fixture-free; passing
``codec="pil"`` / ``"soundfile"`` / ``"ffmpeg"`` raises
NotImplementedError at the exact point a remaining compressed-format
library (MP3/AAC sample decode, H.264 slice entropy decode) would plug
in — the ENVELOPE layers above those gates are real: MP3 side info +
scalefactors, ADTS walk, H.264 SPS, MP4 boxes, WebM EBML
(``audio_probe`` / ``probe_videos``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.sources.flac import parse_flac
from xarray_dataaccessor_spark.sources.jpeg import parse_jpeg
from xarray_dataaccessor_spark.sources.webp import parse_webp
from xarray_dataaccessor_spark.sources.media import (
    parse_bmp,
    parse_gif,
    parse_netpbm,
    parse_png,
    parse_wav,
    parse_y4m,
)


def _ship_by_value() -> None:
    """Executors may not have this package installed; ship the decoders
    by value (same pattern as the format readers in ``ingest.py``)."""
    import xarray_dataaccessor_spark.operators.multimodal as _mm
    from xarray_dataaccessor_spark.session import ship_by_value
    from xarray_dataaccessor_spark.sources import flac as _flac
    from xarray_dataaccessor_spark.sources import jpeg as _jpeg
    from xarray_dataaccessor_spark.sources import media as _media
    from xarray_dataaccessor_spark.sources import vp8 as _vp8
    from xarray_dataaccessor_spark.sources import vp8_tables as _vp8t
    from xarray_dataaccessor_spark.sources import webp as _webp

    ship_by_value(_media, _webp, _vp8, _vp8t, _jpeg, _flac, _mm)

def _task_memo(cap: int = 4096):
    """Per-task content-addressed memo for the codec loops: byte-identical
    payloads (or identical generation parameters) collapse to ONE
    encode/decode per task — the standard dedup-before-decode move
    (guide §8: make every expensive step operate once per distinct
    value). Real corpora carry heavy byte-level duplication (re-uploads,
    boilerplate assets), and the deterministic fixtures here are highly
    duplicated by construction, so the win is large and the semantics
    identical: the memo lives in the task closure, is rebuilt on every
    invocation, and is capped so a high-entropy corpus cannot grow it
    unboundedly."""
    memo: dict = {}

    def get(key, compute):
        try:
            return memo[key]
        except KeyError:
            val = compute()
            if len(memo) < cap:
                memo[key] = val
            return val

    return get


BINARY_META_SCHEMA = (
    "media_type string, width int, height int, n_channels int, duration_ms bigint"
)


def attach_binary_column(
    df: DataFrame, text_col: str = "text", media_type: str = "image/fake"
) -> DataFrame:
    """Make an opaque binary payload + metadata struct from a text column
    (stand-in for reading real media; at scale this is a
    ``spark.read.format('binaryFile')`` scan or a parquet BYTE_ARRAY
    column)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        (F.octet_length(payload) % 640).cast("int").alias("width"),
        (F.octet_length(payload) % 480).cast("int").alias("height"),
        F.lit(3).cast("int").alias("n_channels"),
        F.lit(None).cast("bigint").alias("duration_ms"),
    )
    return df.withColumn("payload", payload).withColumn("media_meta", meta)


def attach_media_column(
    df: DataFrame, id_col: str = "doc_id", size: tuple[int, int] = (8, 8),
    _fn_only: bool = False,
) -> DataFrame:
    """Attach REAL image payloads built with the pure codecs so a DuckDB
    oracle can reproduce decoded statistics exactly. Codec rotates on
    ``doc_id % 3``:

    - 0 -> binary netpbm (P5), gradient pixels ``(d*7 + k) % 256``
    - 1 -> PNG, the same gradient
    - 2 -> baseline JPEG at quality 100, SOLID color ``(d*7) % 256``
      (the DC-only path is exactly lossless at q=100 for every uint8
      value — property-verified in ``tests/test_jpeg.py`` — so even the
      lossy codec has a SQL-derivable decoded mean)

    Output: ``(doc_id, payload binary, img_codec string)``."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.jpeg import write_jpeg
    from xarray_dataaccessor_spark.sources.media import write_netpbm, write_png

    h, w = size
    wn, wp, wj = write_netpbm, write_png, write_jpeg

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        k = np.arange(h * w, dtype="int64")
        memo = _task_memo()

        def build(m, g):
            if m == 0:
                return wn(((g + k) % 256).astype("u1").reshape(h, w),
                          binary=True), "netpbm"
            if m == 1:
                return wp(((g + k) % 256).astype("u1").reshape(h, w)), "png"
            return wj(np.full((h, w), g, dtype="u1"), quality=100), "jpeg"

        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                # payload is a pure function of (d % 3, (d*7) % 256):
                # memo per task instead of re-encoding per doc
                m, g = d % 3, (d * 7) % 256
                payload, codec = memo((m, g), lambda: build(m, g))
                rows.append({"doc_id": d, "payload": payload, "img_codec": codec})
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary, img_codec string"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary, img_codec string")


def attach_webp_lossy_column(
    df: DataFrame, id_col: str = "doc_id", size: tuple[int, int] = (16, 32),
    _fn_only: bool = False,
) -> DataFrame:
    """Attach a REAL lossy-WebP (VP8 key frame) payload per document —
    SOLID gray ``(d*11) % 256`` at q_index 0, where the decode is
    EXACTLY lossless: every B_DC prediction is constant over its block,
    so the residual is constant, its DCT has only a DC term, and
    ``8*residual`` is always divisible by the step-4 quantizer (the VP8
    analogue of the solid-q100-JPEG trick). The decoded channel means
    are therefore integer-valued and SQL-derivable through the two
    integer color conversions. Output: ``(doc_id, payload binary)``."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.webp import write_webp_lossy

    h, w = size
    wl = write_webp_lossy

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        memo = _task_memo()
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                # payload is a pure function of (d*11) % 256 (<= 256
                # distinct frames): memo the VP8 encode per task
                g = (d * 11) % 256
                payload = memo(g, lambda: wl(
                    np.full((h, w, 3), g, dtype="u1"), q_index=0))
                rows.append({"doc_id": d, "payload": payload})
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary")


def attach_audio_column(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 256,
    sample_rate: int = 8000,
    _fn_only: bool = False,
) -> DataFrame:
    """Attach a REAL FLAC payload per document so a DuckDB oracle can
    reproduce decoded audio statistics exactly: mono int16 samples
    ``s[k] = ((d*13 + k*7) % 4001) - 2000`` (deterministic, integral,
    |s| <= 2000 so every squared partial sum stays an exact double),
    FLAC-encoded losslessly by the pure ``sources/flac.py`` writer.
    Output: ``(doc_id, payload binary)``."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.flac import write_flac

    wf = write_flac

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        k = np.arange(n_samples, dtype="int64")
        memo = _task_memo(cap=8192)
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                # samples are a pure function of (d*13) % 4001: memo
                # the FLAC encode per task
                r = (d * 13) % 4001
                payload = memo(r, lambda: wf(
                    (((r + k * 7) % 4001) - 2000).astype("<i2"),
                    sample_rate))
                rows.append({"doc_id": d, "payload": payload})
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary")


def attach_tone_audio_column(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 512,
    sample_rate: int = 8000,
    n_fft: int = 256,
    codec: str = "wav",
    _fn_only: bool = False,
) -> DataFrame:
    """Attach an audio payload holding a PLANTED PURE TONE per document —
    the spectrogram fixture: ``s[k] = round(1000 * cos(2*pi*b*k/n_fft))``
    with bin ``b = 3 + d % 8``, so :func:`audio_spectrogram`'s dominant
    frequency is the closed form ``b * sample_rate / n_fft`` (the tone
    sits exactly on an FFT bin; the Hann mainlobe peaks there and the
    int16 quantization noise is ~60 dB down). ``n_samples = 2 * n_fft``
    gives exactly 3 hop-128 frames. ``codec='wav'`` by default — the
    FLAC encode path is already oracle-verified by the audio_rms branch
    and its pure-Python LPC costs ~2x here for no extra coverage.
    Output: ``(doc_id, payload)``."""
    _ship_by_value()
    if codec == "wav":
        from xarray_dataaccessor_spark.sources.media import write_wav

        wf = write_wav
    else:
        from xarray_dataaccessor_spark.sources.flac import write_flac

        wf = write_flac

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        k = np.arange(n_samples, dtype="float64")
        memo = _task_memo()

        def build(b):
            return wf(np.round(
                1000.0 * np.cos(2.0 * np.pi * b * k / n_fft)
            ).astype("<i2"), sample_rate)

        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                # 8 distinct tones (b = 3 + d%8): memo the encode
                b = 3 + d % 8
                rows.append({"doc_id": d, "payload": memo(b, lambda: build(b))})
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary")


def attach_mp3_column(
    df: DataFrame,
    id_col: str = "doc_id",
    _fn_only: bool = False,
) -> DataFrame:
    """Attach a syntactically valid MPEG-audio payload per document
    (``media.write_mp3_frames``) with SQL-derivable envelope metadata:
    ``n_frames = 10 + d % 16``; documents with ``d % 5 == 0`` alternate
    128/192 kbps (VBR), the rest are 128 kbps CBR. Frame headers are
    real; payloads are zero-filled (the probe never decodes audio).
    Output: ``(doc_id, payload binary)``."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.media import write_mp3_frames

    wm = write_mp3_frames

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        memo = _task_memo()
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                # 32 distinct payloads (n_frames x vbr flag): memo
                n = 10 + d % 16
                alt = 192 if d % 5 == 0 else None
                rows.append(
                    {"doc_id": d, "payload": memo(
                        (n, alt), lambda: wm(n, kbps=128, vbr_alt_kbps=alt))}
                )
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary")


def binary_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Deterministic byte-level features, pure built-ins: size, 256-byte
    chunk count, md5 checksum. This is the JVM-side fast path; anything
    needing a real decoder goes through :func:`decode_binary`."""
    p = F.col(payload_col)
    return df.withColumns(
        {
            "n_bytes": F.octet_length(p).cast("bigint"),
            "n_chunks": F.ceil(F.octet_length(p) / F.lit(256.0)).cast("bigint"),
            "checksum": F.md5(p),
        }
    )


def decode_binary(
    df: DataFrame, payload_col: str = "payload", batch_schema: str | None = None
) -> DataFrame:
    """Arrow-batched mapInPandas decode: the distributed plumbing a real
    image/audio decode would ride on. The per-batch function receives
    pandas DataFrames with raw bytes; the codec call is replaced by a
    deterministic fake (first/last byte, simple checksum) so the batch
    shape, schema, and partition behavior are testable in this container.
    """
    out_schema = batch_schema or (
        "doc_id bigint, n_bytes bigint, first_byte int, last_byte int, byte_sum bigint"
    )

    def decode_batches(batches: "Iterator") -> "Iterator":
        import pandas as pd

        for pdf in batches:
            payload = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len),
                    "first_byte": payload.map(lambda b: b[0] if len(b) else -1),
                    "last_byte": payload.map(lambda b: b[-1] if len(b) else -1),
                    "byte_sum": payload.map(lambda b: int(sum(b[:64]))),
                }
            )

    return df.select("doc_id", payload_col).mapInPandas(decode_batches, out_schema)


def _decode_raw(raw: bytes, codec: str):
    """Decode payload bytes to the parser's native array — (h, w) gray
    or (h, w, 3/4) color float64; 'fake' tiles the raw bytes to 32x32."""
    if codec == "jpeg":
        return parse_jpeg(raw).astype("float64")
    if codec == "netpbm":
        return parse_netpbm(raw).astype("float64")
    if codec == "bmp":
        return parse_bmp(raw).astype("float64")
    if codec == "png":
        img = parse_png(raw).astype("float64")
        if img.ndim == 3 and img.shape[2] == 4:  # drop alpha
            img = img[:, :, :3]
        return img
    if codec == "gif":
        return parse_gif(raw)[1][0].astype("float64")  # first frame
    if codec == "webp":
        img = parse_webp(raw).astype("float64")
        if img.ndim == 3 and img.shape[2] == 4:  # drop alpha
            img = img[:, :, :3]
        return img
    return np.resize(np.frombuffer(raw, dtype=np.uint8), (32, 32)).astype(
        "float64"
    )


def _decode_raw_keep_alpha(raw: bytes, codec: str):
    """Like :func:`_decode_raw` but preserves a 4th (alpha) channel for
    the codecs that carry one — the per-channel stats operator's
    alpha-content checks need it; the luma paths drop it by policy."""
    if codec == "png":
        return parse_png(raw).astype("float64")
    if codec == "webp":
        return parse_webp(raw).astype("float64")
    return _decode_raw(raw, codec)


def _decode_gray(raw: bytes, codec: str):
    """Decode payload bytes to a float64 grayscale array (color
    collapses to ITU-R 601 luma)."""
    img = _decode_raw(raw, codec)
    if img.ndim == 3:
        img = img @ np.array([0.299, 0.587, 0.114])
    return img


def _resize_area(img, oh: int, ow: int):
    """Area-mean resize to (oh, ow) for ARBITRARY source shapes: mean of
    the source cells whose centers fall in each target cell (prefix-sum
    formulation, exact, no loops over pixels)."""
    h, w = img.shape
    ys = (np.arange(oh + 1) * h) // oh
    xs = (np.arange(ow + 1) * w) // ow
    # 2-D prefix sums with a zero border
    ps = np.zeros((h + 1, w + 1))
    ps[1:, 1:] = img.cumsum(0).cumsum(1)
    area = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    tot = (
        ps[ys[1:], :][:, xs[1:]]
        - ps[ys[:-1], :][:, xs[1:]]
        - ps[ys[1:], :][:, xs[:-1]]
        + ps[ys[:-1], :][:, xs[:-1]]
    )
    return tot / np.maximum(area, 1)


def decode_image(
    df: DataFrame,
    payload_col: str = "payload",
    out_size: tuple[int, int] = (8, 8),
    codec: str = "fake",
    _fn_only: bool = False,
) -> DataFrame:
    """Image decode + resize over mapInPandas.

    REAL codecs (pure spec parsers, ``sources/media.py``):
    ``codec="netpbm"`` (PGM/PPM, ASCII + binary, 8/16-bit),
    ``codec="bmp"`` (uncompressed 8/24-bit), and ``codec="png"``
    (zlib + spec filters, 8/16-bit, all color types, incl. Adam7
    interlace).
    Color images collapse to luma (ITU-R 601 weights) before the
    resize. ``codec="jpeg"`` is the pure JPEG decoder
    (``sources/jpeg.py``: baseline SOF0/1 AND progressive SOF2,
    Huffman + restart markers, 4:4:4/4:2:2/4:2:0 chroma).
    ``codec="fake"``
    interprets the payload bytes as a deterministic grayscale raster
    (tiled to 32x32) for plumbing tests without fixtures. The RESIZE is
    the same real array math for every codec — area-mean pooling to
    ``out_size``. ``codec="pil"`` marks where a general compressed-
    format library (WebP/AVIF/progressive JPEG) would plug in."""
    if codec not in ("fake", "netpbm", "bmp", "png", "gif", "jpeg", "webp"):
        raise NotImplementedError(
            f"image codec {codec!r} requires PIL/opencv, not installed; "
            "'netpbm'/'bmp'/'png'/'gif'/'jpeg'/'webp' decode purely, "
            "'fake' exercises the plumbing"
        )
    _ship_by_value()
    oh, ow = out_size
    dec, rz = _decode_gray, _resize_area

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        memo = _task_memo()

        def stats(raw):
            img = dec(raw, codec)
            resized = rz(img, oh, ow)
            return (float(img.mean()),
                    [float(v) for v in resized.reshape(-1)])

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # content-addressed: byte-identical payloads decode once
                raw = bytes(payload)
                mean_pixel, pixels = memo(raw, lambda: stats(raw))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "height": oh,
                        "width": ow,
                        "mean_pixel": mean_pixel,
                        "pixels": pixels,
                    }
                )
            yield pd.DataFrame(rows)

    schema = "doc_id bigint, height int, width int, mean_pixel double, pixels array<double>"
    if _fn_only:
        return batches_fn, schema
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def resample_audio(
    df: DataFrame,
    payload_col: str = "payload",
    rate: int = 16000,
    source_rate: int = 44100,
    codec: str = "fake",
    _fn_only: bool = False,
) -> DataFrame:
    """Audio resample over mapInPandas.

    ``codec="wav"`` is a REAL decode: RIFF/WAVE PCM and float streams
    parse purely (``sources/media.py::parse_wav``), multi-channel mixes
    to mono, and the header's actual sample rate overrides
    ``source_rate``. ``codec="flac"`` is the REAL lossless decoder
    (``sources/flac.py``: Rice/LPC/fixed predictors, all channel
    decorrelations, CRC + MD5 verified) — the format speech corpora
    actually ship. ``codec="fake"`` interprets the payload as a raw
    int16 waveform at ``source_rate`` (plumbing tests, no fixture).
    Either way the RESAMPLE is real linear interpolation onto the target
    rate's time grid. ``codec="soundfile"`` marks where a remaining
    compressed-format decoder (MP3/OGG) would plug in."""
    if codec not in ("fake", "wav", "flac"):
        raise NotImplementedError(
            f"audio codec {codec!r} requires librosa/soundfile, not installed; "
            "'wav'/'flac' decode purely, 'fake' exercises the plumbing"
        )
    _ship_by_value()
    wav_parse = parse_wav
    flac_parse = parse_flac

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        memo = _task_memo()

        def stats(raw):
            src_rate = source_rate
            if codec == "wav":
                src_rate, chans = wav_parse(raw)
                wave = chans.mean(axis=1)  # mix to mono
            elif codec == "flac":
                src_rate, chans = flac_parse(raw)
                wave = chans.astype("float64").mean(axis=1)
            else:
                wave = np.frombuffer(
                    raw[: len(raw) // 2 * 2], dtype="<i2"
                ).astype("float64")
            if wave.size < 2:
                wave = np.zeros(2)
            n_out = max(2, int(round(wave.size * rate / src_rate)))
            t_in = np.arange(wave.size) / src_rate
            t_out = np.arange(n_out) / rate
            out = np.interp(t_out, t_in, wave)
            return (int(wave.size), int(out.size),
                    float(np.sqrt((out**2).mean())))

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # content-addressed: byte-identical payloads decode once
                raw = bytes(payload)
                n_in, n_out_v, rms = memo(raw, lambda: stats(raw))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_samples_in": n_in,
                        "n_samples_out": n_out_v,
                        "rms": rms,
                    }
                )
            yield pd.DataFrame(rows)

    schema = "doc_id bigint, n_samples_in bigint, n_samples_out bigint, rms double"
    if _fn_only:
        return batches_fn, schema
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    every_ms: int = 1000,
    fps: int = 25,
    codec: str = "fake",
) -> DataFrame:
    """Video frame sampling over mapInPandas — a one-to-MANY decode (one
    output row per sampled frame), the batch shape a real ffmpeg probe
    produces.

    ``codec="y4m"`` is a REAL decode: YUV4MPEG2 (the uncompressed video
    interchange format) parses purely (``sources/media.py::parse_y4m``);
    the header's frame rate overrides ``fps`` and each sampled frame
    reports its true luma mean + digest. ``codec="fake"`` treats each
    64-byte payload slice as a frame. ``codec="ffmpeg"`` marks where a
    compressed-container decoder plugs in."""
    if codec not in ("fake", "y4m", "gif"):
        raise NotImplementedError(
            f"video codec {codec!r} requires ffmpeg/av, not installed; "
            "'y4m'/'gif' decode purely, 'fake' exercises the plumbing"
        )
    _ship_by_value()
    y4m_parse, gif_parse = parse_y4m, parse_gif

    def batches_fn(batches: "Iterator") -> "Iterator":
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                raw = bytes(payload)
                if codec == "y4m":
                    real_fps, frames = y4m_parse(raw)
                    step_f = max(1, int(round(real_fps * every_ms / 1000.0)))
                    for fi in range(0, len(frames), step_f):
                        f = frames[fi]
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "frame_idx": fi,
                                "ts_ms": int(fi * 1000 / real_fps),
                                "frame_md5": hashlib.md5(f.tobytes()).hexdigest(),
                                "mean_luma": float(f.mean()),
                            }
                        )
                    continue
                if codec == "gif":
                    delays, frames = gif_parse(raw)
                    # frames carry their OWN timestamps (variable frame
                    # durations); sample the first frame at or past each
                    # every_ms tick
                    t, next_tick = 0, 0
                    for fi, (f, d) in enumerate(zip(frames, delays)):
                        if t >= next_tick:
                            luma = f.astype("float64") @ [0.299, 0.587, 0.114]
                            rows.append(
                                {
                                    "doc_id": doc_id,
                                    "frame_idx": fi,
                                    "ts_ms": t,
                                    "frame_md5": hashlib.md5(
                                        f.tobytes()
                                    ).hexdigest(),
                                    "mean_luma": float(luma.mean()),
                                }
                            )
                            next_tick += every_ms
                        t += max(d, 10)
                    continue
                step = max(1, int(round(fps * every_ms / 1000.0)))
                n_frames = max(1, len(raw) // 64)
                for fi in range(0, n_frames, step):
                    frame = raw[fi * 64 : (fi + 1) * 64]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": fi,
                            "ts_ms": int(fi * 1000 / fps),
                            "frame_md5": hashlib.md5(frame).hexdigest(),
                            "mean_luma": float(sum(frame) / max(1, len(frame))),
                        }
                    )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id bigint, frame_idx int, ts_ms bigint, frame_md5 string, "
        "mean_luma double"
    )
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def audio_spectrogram(
    df: DataFrame,
    payload_col: str = "payload",
    n_fft: int = 256,
    hop: int = 128,
    n_bands: int = 8,
    source_rate: int = 16000,
    codec: str = "fake",
    _fn_only: bool = False,
) -> DataFrame:
    """Log-magnitude spectrogram features over mapInPandas — the speech
    pre-processing step between decode and model input (the pipeline's
    "feature-extract" stage for audio).

    Per document: Hann-windowed STFT (numpy rfft, ``n_fft`` samples
    every ``hop``), power spectrum, then ``n_bands`` equal-width band
    energies averaged over time plus the dominant frequency (argmax bin
    of the mean spectrum, in Hz at the stream's sample rate). Decodes
    like :func:`resample_audio`: ``codec='wav'`` / ``'flac'`` are the
    real pure parsers (header rate overrides ``source_rate``),
    ``'fake'`` reads raw int16.

    Scale shape: the FFT is per-row numpy inside an Arrow batch —
    embarrassingly parallel, no shuffle; output is (doc, small fixed
    vector), so the wide waveform never leaves the task."""
    if codec not in ("fake", "wav", "flac"):
        raise NotImplementedError(
            f"audio codec {codec!r} requires librosa/soundfile, not installed; "
            "'wav'/'flac' decode purely, 'fake' exercises the plumbing"
        )
    _ship_by_value()
    wav_parse = parse_wav
    flac_parse = parse_flac

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        win = np.hanning(n_fft)
        memo = _task_memo()

        def stats(raw):
            sr = source_rate
            if codec == "wav":
                sr, chans = wav_parse(raw)
                wave = chans.mean(axis=1)
            elif codec == "flac":
                sr, chans = flac_parse(raw)
                wave = chans.astype("float64").mean(axis=1)
            else:
                wave = np.frombuffer(
                    raw[: len(raw) // 2 * 2], dtype="<i2"
                ).astype("float64")
            n_frames = max(0, (wave.size - n_fft) // hop + 1)
            if n_frames == 0:
                pad = np.zeros(n_fft)
                pad[: wave.size] = wave
                frames = pad[None, :]
                n_frames = 1
            else:
                idx = (
                    np.arange(n_frames)[:, None] * hop
                    + np.arange(n_fft)[None, :]
                )
                frames = wave[idx]
            spec = np.abs(np.fft.rfft(frames * win, axis=1)) ** 2
            mean_spec = spec.mean(axis=0)
            n_bins = mean_spec.size
            band_w = n_bins // n_bands
            bands = [
                float(np.log1p(mean_spec[b * band_w : (b + 1) * band_w].mean()))
                for b in range(n_bands)
            ]
            peak_bin = int(mean_spec[1:].argmax()) + 1  # skip DC
            return (int(sr), int(n_frames),
                    float(peak_bin * sr / n_fft), bands)

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # content-addressed: byte-identical payloads decode once
                raw = bytes(payload)
                sr_v, nf, hz, bands = memo(raw, lambda: stats(raw))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "sample_rate": sr_v,
                        "n_frames": nf,
                        "dominant_hz": hz,
                        "log_band_energy": bands,
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id bigint, sample_rate int, n_frames int, dominant_hz double, "
        "log_band_energy array<double>"
    )
    if _fn_only:
        return batches_fn, schema
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def image_channel_stats(
    df: DataFrame, payload_col: str = "payload", codec: str = "fake",
    _fn_only: bool = False,
) -> DataFrame:
    """Per-channel image statistics WITHOUT the luma collapse — the
    color-aware sibling of :func:`decode_image` (a vision pipeline
    filters on per-channel distributions: solid-color detection,
    color-cast screening, alpha-content checks). Emits
    ``(doc_id, height, width, n_channels, channel_means array<double>,
    channel_stds array<double>)``; grayscale inputs report one channel.
    Same codec dispatch and Arrow batch shape as the other decoders;
    unlike the luma paths, a 4th (alpha) channel is KEPT — per-channel
    stats exist precisely for alpha-content screening."""
    if codec not in ("fake", "netpbm", "bmp", "png", "gif", "jpeg", "webp"):
        raise NotImplementedError(
            f"image codec {codec!r} requires PIL/opencv, not installed; "
            "'netpbm'/'bmp'/'png'/'gif'/'jpeg'/'webp' decode purely, "
            "'fake' exercises the plumbing"
        )
    _ship_by_value()
    dec = _decode_raw_keep_alpha

    def batches_fn(batches: "Iterator") -> "Iterator":
        import numpy as np
        import pandas as pd

        memo = _task_memo()

        def stats(raw):
            img = dec(raw, codec)
            if img.ndim == 2:
                img = img[:, :, None]
            return (
                int(img.shape[0]), int(img.shape[1]), int(img.shape[2]),
                [float(v) for v in img.mean(axis=(0, 1))],
                [float(v) for v in img.std(axis=(0, 1))],
            )

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # content-addressed: byte-identical payloads decode once
                raw = bytes(payload)
                hh, ww, nc, cm, cs = memo(raw, lambda: stats(raw))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "height": hh,
                        "width": ww,
                        "n_channels": nc,
                        "channel_means": cm,
                        "channel_stds": cs,
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id bigint, height int, width int, n_channels int, "
        "channel_means array<double>, channel_stds array<double>"
    )
    if _fn_only:
        return batches_fn, schema
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def audio_probe(
    df: DataFrame,
    payload_col: str = "payload",
    _fn_only: bool = False,
) -> DataFrame:
    """Audio metadata extraction over mapInPandas — the envelope a
    curation pipeline FILTERS on (duration, sample rate, channel count,
    bitrate profile) without decoding samples where the container
    allows it. Format is auto-detected per payload:

    - MPEG audio (MP3; ID3 tags skipped): pure frame-header walk
      (``sources/media.py::mp3_probe``) — no Huffman/IMDCT decode, so
      the per-document cost is O(n_frames), not O(samples). This is
      deliberately the only MP3 surface: filtering a 100 TB scrape
      needs the envelope, and full decode stays behind the
      ``soundfile`` gate.
    - ADTS AAC (syncword with layer bits 00 — the discriminator from
      MPEG audio): frame-header walk (``aac_adts_probe``), 1024
      samples per raw block; spectral payload untouched.
    - Ogg (Opus/Vorbis): page walk + id-header decode (``ogg_probe``);
      duration from the final granule position, packets untouched.
    - RIFF/WAVE and FLAC: the existing pure parsers supply the stream
      parameters (these decode; both are cheap linear formats).

    Output: ``(doc_id, fmt, sample_rate, channels, duration_ms,
    bitrate_kbps, vbr)`` — unknown formats yield fmt='unknown' with
    nulls, never an executor exception."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.media import (
        aac_adts_probe,
        mp3_probe,
        ogg_probe,
    )

    wav_parse, flac_parse, probe = parse_wav, parse_flac, mp3_probe
    aac_probe, ogg = aac_adts_probe, ogg_probe

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        memo = _task_memo()

        def stats(raw):
            rec = {"fmt": "unknown",
                   "sample_rate": None, "channels": None,
                   "duration_ms": None, "bitrate_kbps": None,
                   "vbr": None}
            try:
                if raw[:4] == b"RIFF":
                    rate, chans = wav_parse(raw)
                    rec.update(fmt="wav", sample_rate=rate,
                               channels=int(chans.shape[1]),
                               duration_ms=int(round(
                                   chans.shape[0] * 1000.0 / rate)),
                               vbr=False)
                elif raw[:4] == b"fLaC":
                    rate, chans = flac_parse(raw)
                    rec.update(fmt="flac", sample_rate=rate,
                               channels=int(chans.shape[1]),
                               duration_ms=int(round(
                                   chans.shape[0] * 1000.0 / rate)),
                               vbr=False)
                elif raw[:4] == b"OggS":
                    p = ogg(raw)
                    rec.update(fmt="ogg-" + p.get("codec", "unknown"),
                               sample_rate=p.get("sample_rate"),
                               channels=p.get("channels"),
                               duration_ms=p.get("duration_ms"),
                               vbr=True)
                elif len(raw) > 1 and raw[0] == 0xFF and (
                    raw[1] & 0xF6
                ) == 0xF0:
                    p = aac_probe(raw)
                    rec.update(fmt="aac", sample_rate=p["sample_rate"],
                               channels=p["channels"],
                               duration_ms=p["duration_ms"],
                               bitrate_kbps=p["bitrate_kbps"],
                               vbr=False)
                else:
                    p = probe(raw)
                    rec.update(fmt="mp3", sample_rate=p["sample_rate"],
                               channels=p["channels"],
                               duration_ms=p["duration_ms"],
                               bitrate_kbps=p["bitrate_kbps"],
                               vbr=p["vbr"])
            except Exception:
                pass  # unknown/corrupt: emit the null record
            return rec

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # content-addressed: byte-identical payloads probe once
                raw = bytes(payload)
                rec = dict(memo(raw, lambda: stats(raw)))
                rec["doc_id"] = int(doc_id)
                rows.append(rec)
            yield pd.DataFrame(rows)

    schema = (
        "doc_id bigint, fmt string, sample_rate int, channels int, "
        "duration_ms bigint, bitrate_kbps double, vbr boolean"
    )
    if _fn_only:
        return batches_fn, schema
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def probe_images(
    df: DataFrame,
    payload_col: str = "payload",
) -> DataFrame:
    """Image metadata extraction over mapInPandas — header-only
    dimension/format detection (``sources/media.py::image_probe``:
    PNG, baseline/progressive JPEG, GIF, BMP, netpbm, TIFF, and all
    three WebP container flavors incl. LOSSY VP8 dimensions) for the
    resolution/format filters a curation pipeline applies before any
    pixel decode. O(header bytes) per document; corrupt payloads yield
    a null 'unknown' row, never a task failure."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.media import image_probe

    probe = image_probe

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                rec = {"doc_id": int(doc_id), "fmt": "unknown",
                       "width": None, "height": None,
                       "bit_depth": None, "n_channels": None}
                try:
                    rec.update(probe(bytes(payload)))
                except Exception:
                    pass
                rows.append(rec)
            yield pd.DataFrame(rows)

    schema = (
        "doc_id bigint, fmt string, width int, height int, "
        "bit_depth int, n_channels int"
    )
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def probe_videos(
    df: DataFrame,
    payload_col: str = "payload",
    _fn_only: bool = False,
) -> DataFrame:
    """Video metadata extraction over mapInPandas — the envelope a
    curation pipeline filters on without touching sample data:

    - **MP4/MOV** (ISO BMFF): box walk — brand, movie duration, track
      dimensions, codec fourcc, and for AVC tracks the avcC SPS decoded
      for the true coded dimensions + profile/level
      (``sources/media.py::mp4_probe``).
    - **H.264 Annex B**: start-code NAL walk + full Exp-Golomb SPS
      decode (profile/level/chroma/bit depth/cropped dimensions), the
      coded-picture count, and (round 10) the PPS (entropy mode,
      init QP) + per-slice slice_type walk — slice_type is context-free
      Exp-Golomb, so the I/P/B keyframe cadence reads without entropy
      decode (``h264_probe``).
    - **WebM/Matroska**: EBML walk — DocType, duration, track codec
      IDs and video dimensions (``webm_probe``); clusters untouched.
    - **Y4M**: uncompressed header (the existing parser).

    Entropy-coded slice decode stays gated (no reference decoder in
    this environment to pin bit-exactness against — the MP3 spectral
    precedent). Corrupt/unknown payloads yield a null 'unknown' row,
    never a task failure."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.media import (
        h264_probe,
        mp4_probe,
        parse_y4m,
        webm_probe,
    )

    hp, mp, yp, wp = h264_probe, mp4_probe, parse_y4m, webm_probe

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        memo = _task_memo(cap=8192)

        def stats(raw):
            rec = {"fmt": "unknown",
                   "codec": None, "width": None, "height": None,
                   "profile_idc": None, "level_idc": None,
                   "n_pictures": None, "duration_ms": None,
                   "n_i_slices": None, "entropy_coding": None}
            try:
                if raw[4:8] == b"ftyp":
                    m = mp(raw)
                    rec.update(fmt="mp4",
                               duration_ms=m.get("duration_ms"))
                    if m["tracks"]:
                        t = m["tracks"][0]
                        rec.update(codec=t.get("codec"),
                                   width=t.get("width"),
                                   height=t.get("height"))
                        sps = t.get("sps")
                        if sps:
                            rec.update(
                                width=sps["width"],
                                height=sps["height"],
                                profile_idc=sps["profile_idc"],
                                level_idc=sps["level_idc"],
                            )
                elif raw[:4] == b"\x1a\x45\xdf\xa3":
                    m = wp(raw)
                    rec.update(fmt="webm",
                               duration_ms=m.get("duration_ms"))
                    vid = next(
                        (t for t in m["tracks"]
                         if t.get("type") == "video"), None
                    )
                    if vid:
                        rec.update(codec=vid.get("codec"),
                                   width=vid.get("width"),
                                   height=vid.get("height"))
                elif raw[:9] == b"YUV4MPEG2":
                    fps, frames = yp(raw)
                    rec.update(
                        fmt="y4m", codec="raw",
                        width=int(frames[0].shape[1]),
                        height=int(frames[0].shape[0]),
                        n_pictures=len(frames),
                        duration_ms=int(round(
                            len(frames) * 1000.0 / fps)),
                    )
                else:
                    p = hp(raw)
                    rec.update(fmt="h264", codec="avc",
                               width=p["width"], height=p["height"],
                               profile_idc=p["profile_idc"],
                               level_idc=p["level_idc"],
                               n_pictures=p["n_pictures"],
                               n_i_slices=p.get("n_i_slices"),
                               entropy_coding=p.get("entropy_coding"))
            except Exception:
                pass
            return rec

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # content-addressed: byte-identical payloads probe once
                raw = bytes(payload)
                rec = dict(memo(raw, lambda: stats(raw)))
                rec["doc_id"] = int(doc_id)
                rows.append(rec)
            yield pd.DataFrame(rows)
    schema = (
        "doc_id bigint, fmt string, codec string, width int, height int, "
        "profile_idc int, level_idc int, n_pictures int, duration_ms bigint, "
        "n_i_slices int, entropy_coding string"
    )
    if _fn_only:
        return batches_fn, schema
    return df.select("doc_id", payload_col).mapInPandas(batches_fn, schema)


def attach_video_column(
    df: DataFrame,
    id_col: str = "doc_id",
    _fn_only: bool = False,
) -> DataFrame:
    """Attach a deterministic VIDEO container payload per document —
    format rotates by ``d % 3`` with SQL-derivable envelope metadata
    (the ``attach_mp3_column`` seeding discipline, so
    :func:`probe_videos` output hash-verifies against the generation
    rule):

    - ``d % 3 == 0`` — H.264 Annex B (``media.write_h264_annexb``):
      ``width = 16*(2 + d%6)``, ``height = 16*(2 + d%4)``,
      ``n_frames = 2 + d%5``; baseline profile 66 level 30.
    - ``d % 3 == 1`` — MP4/AVC (``media.write_mp4_avc``):
      ``width = 16*(1 + d%8)``, ``height = 16*(1 + d%5)``,
      ``duration_ms = 500 + d%1500``.
    - ``d % 3 == 2`` — WebM/VP9 (``media.write_webm``):
      ``width = 100 + d%540``, ``height = 80 + d%300``,
      ``duration_ms = 400 + d%1600``.

    Output: ``(doc_id, payload binary)``."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.media import (
        write_h264_annexb,
        write_mp4_avc,
        write_webm,
    )

    wh, wm, ww = write_h264_annexb, write_mp4_avc, write_webm

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        memo = _task_memo(cap=8192)
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                m = d % 3
                # payload is a pure function of the writer args: memo
                if m == 0:
                    args = (2 + d % 5, 16 * (2 + d % 6), 16 * (2 + d % 4))
                    payload = memo((m, args), lambda: wh(
                        n_frames=args[0], width=args[1], height=args[2]))
                elif m == 1:
                    args = (16 * (1 + d % 8), 16 * (1 + d % 5), 500 + d % 1500)
                    payload = memo((m, args), lambda: wm(
                        width=args[0], height=args[1], duration_ms=args[2]))
                else:
                    args = (100 + d % 540, 80 + d % 300, 400 + d % 1600)
                    payload = memo((m, args), lambda: ww(
                        width=args[0], height=args[1], duration_ms=args[2]))
                rows.append({"doc_id": d, "payload": payload})
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary")


def attach_container_audio_column(
    df: DataFrame,
    id_col: str = "doc_id",
    _fn_only: bool = False,
) -> DataFrame:
    """Attach a deterministic CONTAINERIZED audio payload per document —
    the two envelope formats :func:`audio_probe` dispatches beyond
    MP3/WAV/FLAC, seeded by the generation-rule discipline:

    - ``d % 2 == 0`` — Ogg Opus (``media.write_ogg_opus``):
      ``channels = 1 + (d % 4) // 2``, ``duration_ms = 300 + d % 1700``
      (granule-position exact, 48 kHz by the Opus contract).
    - ``d % 2 == 1`` — ADTS AAC (``media.write_adts_frames``):
      ``n_frames = 3 + d % 16``, ``channels = 1 + (d % 4) // 2``,
      44.1 kHz; duration rounds from 1024-sample frames.

    Output: ``(doc_id, payload binary)``."""
    _ship_by_value()
    from xarray_dataaccessor_spark.sources.media import (
        write_adts_frames,
        write_ogg_opus,
    )

    wa, wo = write_adts_frames, write_ogg_opus

    def batches_fn(batches: "Iterator") -> "Iterator":
        import pandas as pd

        memo = _task_memo(cap=8192)
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                ch = 1 + (d % 4) // 2
                # payload is a pure function of the writer args: memo
                if d % 2 == 0:
                    dur = 300 + d % 1700
                    payload = memo((0, dur, ch), lambda: wo(
                        duration_ms=dur, channels=ch))
                else:
                    n = 3 + d % 16
                    payload = memo((1, n, ch), lambda: wa(
                        n_frames=n, rate=44100, channels=ch))
                rows.append({"doc_id": d, "payload": payload})
            yield pd.DataFrame(rows)

    if _fn_only:
        return batches_fn, "doc_id bigint, payload binary"
    return df.select(id_col).mapInPandas(batches_fn, "doc_id bigint, payload binary")

def fused_attach_probe(
    df: DataFrame,
    attach,
    probe,
    id_col: str = "doc_id",
) -> DataFrame:
    """Compose an attach builder with its probe/decode builder inside ONE
    ``mapInPandas`` pass (guide §4.1/§4.2 — r14, VERDICT r13 #7).

    ``attach`` / ``probe`` are the ``(batches_fn, out_schema)`` pairs the
    builders return with ``_fn_only=True``. Chained as two mapInPandas
    nodes, each branch ships its payload bytes across the Python→JVM→
    Python boundary twice (Arrow transpose + serialization both ways)
    purely to hand them to the next Python function; composed at the
    ITERATOR level the payload never leaves the Python worker — the task
    reads only ``doc_id`` and emits only the probe's small feature rows.
    Both functions are per-row pure (per-task memos included), so batch
    boundaries cannot change values and the output is row-identical to
    the chained form.
    """
    attach_fn, _ = attach
    probe_fn, probe_schema = probe

    def fused(batches):
        yield from probe_fn(attach_fn(batches))

    return df.select(id_col).mapInPandas(fused, probe_schema)
