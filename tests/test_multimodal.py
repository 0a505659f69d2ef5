"""Multimodal plumbing: real mapInPandas batch shapes and real
resize/resample/sampling array math around deterministic fake codecs
(the image/audio/video libraries are not in this container — that
absence is the point of the fake-codec gate)."""

from __future__ import annotations

import ast
import struct
from functools import partial
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

import xarray_dataaccessor_spark as pkg
from xarray_dataaccessor_spark.operators import multimodal as mm
from xarray_dataaccessor_spark.operators.multimodal import (
    attach_audio_column,
    attach_binary_column,
    attach_container_audio_column,
    attach_media_column,
    attach_mp3_column,
    attach_tone_audio_column,
    attach_video_column,
    attach_webp_lossy_column,
    audio_probe,
    audio_spectrogram,
    binary_features,
    decode_binary,
    decode_image,
    fused_attach_probe,
    image_channel_stats,
    probe_images,
    probe_videos,
    resample_audio,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(i, "x" * (100 + 40 * i)) for i in range(8)], "doc_id bigint, text string"
    )
    return attach_binary_column(docs)


def test_decode_image_resize_math(spark, media):
    out = decode_image(media, out_size=(4, 4)).orderBy("doc_id").collect()
    assert len(out) == 8
    for r in out:
        assert (r["height"], r["width"]) == (4, 4)
        assert len(r["pixels"]) == 16
    # verify the block-mean numerics against numpy on one payload
    payload = bytes("x" * 100, "utf-8")
    raw = np.frombuffer(payload, dtype=np.uint8)
    img = np.resize(raw, (32, 32)).astype("float64")
    expect = img.reshape(4, 8, 4, 8).mean(axis=(1, 3)).reshape(-1)
    got = np.array(out[0]["pixels"])
    np.testing.assert_allclose(got, expect)
    assert out[0]["mean_pixel"] == pytest.approx(img.mean())


def test_resample_audio_ratio(spark, media):
    out = resample_audio(media, rate=16000, source_rate=32000).orderBy("doc_id").collect()
    for r in out:
        # downsample by 2: output count tracks the rate ratio
        assert r["n_samples_out"] == max(2, round(r["n_samples_in"] / 2))
        assert r["rms"] >= 0.0


def test_sample_frames_one_to_many(spark, media):
    # 1 fps sampling of a 25 fps fake stream: every 25th frame
    out = sample_frames(media, every_ms=1000, fps=25)
    pdf = out.toPandas()
    assert set(pdf.columns) == {"doc_id", "frame_idx", "ts_ms", "frame_md5", "mean_luma"}
    assert (pdf["frame_idx"] % 25 == 0).all()
    assert (pdf.groupby("doc_id").size() >= 1).all()
    # deterministic digests: same payload -> same frame hash
    again = sample_frames(media, every_ms=1000, fps=25).toPandas()
    assert pdf.sort_values(["doc_id", "frame_idx"])["frame_md5"].tolist() == \
        again.sort_values(["doc_id", "frame_idx"])["frame_md5"].tolist()


def test_real_codecs_gated(media):
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(media, codec="pil")
    with pytest.raises(NotImplementedError, match="librosa"):
        resample_audio(media, codec="soundfile")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        sample_frames(media, codec="av")


def test_binary_fast_path_jvm_side(spark, media):
    feats = binary_features(media)
    assert feats.filter(F.col("n_bytes") <= 0).count() == 0
    decoded = decode_binary(media)
    assert decoded.count() == 8
    assert decoded.columns == ["doc_id", "n_bytes", "first_byte", "last_byte", "byte_sum"]


def test_image_channel_stats_color_and_gray(spark):
    import numpy as np

    from xarray_dataaccessor_spark.operators.multimodal import image_channel_stats
    from xarray_dataaccessor_spark.sources.jpeg import write_jpeg
    from xarray_dataaccessor_spark.sources.media import write_png

    rgb = np.zeros((10, 12, 3), np.uint8)
    rgb[:, :, 0] = 200  # red-dominant image
    rgb[:, :, 1] = 50
    gray = np.full((6, 8), 77, np.uint8)
    rows = [
        (1, bytearray(write_png(rgb))),
        (2, bytearray(write_png(gray))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r["doc_id"]: r for r in image_channel_stats(df, codec="png").collect()}
    assert out[1]["n_channels"] == 3
    assert out[1]["channel_means"] == [200.0, 50.0, 0.0]
    assert out[2]["n_channels"] == 1
    assert out[2]["channel_means"] == [77.0]
    assert out[2]["channel_stds"] == [0.0]
    # solid-color JPEG at q100 decodes exactly -> exact channel mean
    jdf = spark.createDataFrame(
        [(3, bytearray(write_jpeg(np.full((8, 8), 130, np.uint8), 100)))],
        "doc_id bigint, payload binary",
    )
    j = image_channel_stats(jdf, codec="jpeg").collect()[0]
    assert j["channel_means"] == [130.0] and j["channel_stds"] == [0.0]


def test_audio_probe_mixed_formats(spark):
    """audio_probe auto-detects MP3 (header-only walk, incl. VBR and
    ID3 tags), WAV and FLAC payloads in one distributed pass; corrupt
    bytes yield a null 'unknown' row, never a task failure."""
    import numpy as np

    from xarray_dataaccessor_spark.operators.multimodal import audio_probe
    from xarray_dataaccessor_spark.sources.flac import write_flac
    from xarray_dataaccessor_spark.sources.media import (
        write_adts_frames,
        write_mp3_frames,
        write_ogg_opus,
        write_wav,
    )

    tone = (2000 * np.sin(np.arange(8000) / 10.0)).astype("int64")
    rows = [
        (0, bytearray(write_mp3_frames(25, kbps=128, rate=44100))),
        (1, bytearray(write_mp3_frames(8, kbps=128, vbr_alt_kbps=192,
                                       id3v2=b"\x00" * 30, id3v1=True))),
        (2, bytearray(write_wav(tone, 8000))),
        (3, bytearray(write_flac(tone.astype("<i2"), 8000))),
        (4, bytearray(b"definitely not audio " * 20)),
        (5, bytearray(write_adts_frames(30, rate=44100, channels=2))),
        (6, bytearray(write_ogg_opus(duration_ms=1200, channels=2))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in audio_probe(df).collect()}
    assert out[0]["fmt"] == "mp3" and out[0]["vbr"] is False
    assert out[0]["duration_ms"] == round(25 * 1152 * 1000 / 44100)
    assert out[1]["fmt"] == "mp3" and out[1]["vbr"] is True
    assert out[2]["fmt"] == "wav" and out[2]["duration_ms"] == 1000
    assert out[3]["fmt"] == "flac" and out[3]["sample_rate"] == 8000
    assert out[4]["fmt"] == "unknown" and out[4]["sample_rate"] is None
    assert out[5]["fmt"] == "aac" and out[5]["channels"] == 2
    assert out[5]["duration_ms"] == round(30 * 1024 * 1000 / 44100)
    assert out[6]["fmt"] == "ogg-opus" and out[6]["duration_ms"] == 1200


def test_probe_images_mixed_formats(spark):
    """probe_images: header-only dimensions across every format the
    pure writers emit — including LOSSY WebP, whose pixel decode is
    gated but whose frame-tag dimensions parse fine."""
    import numpy as np
    import struct

    from xarray_dataaccessor_spark.operators.multimodal import probe_images
    from xarray_dataaccessor_spark.sources.jpeg import write_jpeg_progressive
    from xarray_dataaccessor_spark.sources.media import write_png
    from xarray_dataaccessor_spark.sources.webp import write_webp

    img = (np.arange(15 * 11) % 256).astype("u1").reshape(15, 11)
    rgb = np.dstack([img, img // 2, 255 - img])
    # synthetic lossy-VP8 header (dimensions only; payload gated)
    vp8 = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
           + struct.pack("<HH", 11, 15) + b"\x00" * 8)
    riff = b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    lossy = b"RIFF" + struct.pack("<I", len(riff) + 4) + b"WEBP" + riff
    rows = [
        (0, bytearray(write_png(rgb))),
        (1, bytearray(write_jpeg_progressive(img, 85))),
        (2, bytearray(write_webp(rgb))),
        (3, bytearray(lossy)),
        (4, bytearray(b"not an image" * 10)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in probe_images(df).collect()}
    assert out[0]["fmt"] == "png" and (out[0]["width"], out[0]["height"]) == (11, 15)
    assert out[1]["fmt"] == "jpeg_progressive"
    assert out[2]["fmt"] == "webp_lossless"
    assert out[3]["fmt"] == "webp_lossy" and out[3]["width"] == 11
    assert out[4]["fmt"] == "unknown" and out[4]["width"] is None


def test_probe_videos(spark):
    from xarray_dataaccessor_spark.operators.multimodal import probe_videos
    from xarray_dataaccessor_spark.sources.media import (
        write_h264_annexb,
        write_mp4_avc,
        write_webm,
        write_y4m,
    )
    import numpy as np

    frames = [np.full((32, 48), 60 + i, dtype=np.uint8) for i in range(4)]
    rows = [
        (0, bytearray(write_h264_annexb(6, 320, 240))),
        (1, bytearray(write_mp4_avc(640, 480, duration_ms=1500))),
        (2, bytearray(write_y4m(frames, fps=2))),
        (3, bytearray(b"not a video at all")),
        (4, bytearray(write_webm(480, 270, duration_ms=900,
                                 codec="V_AV1"))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r["doc_id"]: r.asDict() for r in probe_videos(df).collect()}
    assert out[0]["fmt"] == "h264" and out[0]["n_pictures"] == 6
    assert (out[0]["width"], out[0]["height"]) == (320, 240)
    assert out[1]["fmt"] == "mp4" and out[1]["codec"] == "avc1"
    assert (out[1]["width"], out[1]["height"]) == (640, 480)
    assert out[1]["duration_ms"] == 1500
    assert out[2]["fmt"] == "y4m" and out[2]["n_pictures"] == 4
    assert out[2]["duration_ms"] == 2000
    assert out[3]["fmt"] == "unknown" and out[3]["width"] is None
    assert out[4]["fmt"] == "webm" and out[4]["codec"] == "V_AV1"
    assert (out[4]["width"], out[4]["height"]) == (480, 270)
    assert out[4]["duration_ms"] == 900


# every attach -> probe pair queries_ext.multimodal_binary_features fuses;
# the image branch filters the docs to its codec's residue class first
_FUSED = [
    pytest.param(attach_media_column, partial(decode_image, codec=c), i, id=f"media-{c}")
    for i, c in enumerate(("netpbm", "png", "jpeg"))
] + [
    pytest.param(attach_audio_column, partial(resample_audio, rate=4000, codec="flac"),
                 None, id="flac-resample_audio"),
    pytest.param(attach_mp3_column, audio_probe, None, id="mp3-audio_probe"),
    pytest.param(attach_webp_lossy_column, partial(image_channel_stats, codec="webp"),
                 None, id="webp-image_channel_stats"),
    pytest.param(attach_container_audio_column, audio_probe, None,
                 id="container_audio-audio_probe"),
    pytest.param(attach_video_column, probe_videos, None, id="video-probe_videos"),
    pytest.param(attach_tone_audio_column, partial(audio_spectrogram, codec="wav"),
                 None, id="tone-audio_spectrogram"),
]


@pytest.mark.parametrize("attach, probe, residue", _FUSED)
def test_fused_attach_probe_matches_chained_and_is_one_python_stage(
    spark, attach, probe, residue
):
    """Composing attach+probe inside one mapInPandas must be row-identical
    to the chained two-node form and must collapse the branch to exactly
    ONE Python stage (the payload bytes no longer cross the JVM boundary
    between the two functions)."""
    import re

    from xarray_dataaccessor_spark.plans.explain import plan_string

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    if residue is not None:
        docs = docs.filter(F.col("doc_id") % 3 == residue)
    chained = probe(attach(docs))
    fused = fused_attach_probe(docs, attach, probe)
    a = sorted(map(tuple, chained.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b and len(a) == docs.count()
    plan = plan_string(fused)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    chained_plan = plan_string(chained)
    assert len(re.findall(r"\(\d+\) MapInPandas", chained_plan)) == 2


def _stage_row(builder):
    """The row function a builder plans, without a JVM."""
    (stage,) = builder(mm._Fused())
    return stage.row


def test_probe_rows_null_parse_errors_and_raise_program_errors(monkeypatch):
    """No JVM. The probes keep the all-null 'unknown' record for exactly
    the errors the parser fuzz allows; anything else fails loudly."""
    from xarray_dataaccessor_spark.sources.media import PARSE_ERRORS, write_mp3_frames

    assert set(PARSE_ERRORS) == {
        ValueError, IndexError, KeyError, struct.error, OverflowError,
        ZeroDivisionError, UnicodeDecodeError,
    }
    for builder in (audio_probe, probe_images, probe_videos):
        rec = _stage_row(builder)(b"definitely not a media payload " * 8)
        assert rec["fmt"] == "unknown"
        assert {k for k, v in rec.items() if v is not None} == {"fmt"}

    payload = write_mp3_frames(12, kbps=128)
    assert _stage_row(audio_probe)(payload)["fmt"] == "mp3"

    def broken(raw):
        raise TypeError("program error, not a corrupt payload")

    monkeypatch.setattr(mm, "mp3_probe", broken)
    with pytest.raises(TypeError, match="program error"):
        _stage_row(audio_probe)(payload)


def test_one_python_stage_helper_in_multimodal():
    """No JVM. ``operators/multimodal.py`` plans every Python stage
    through one ``mapInPandas`` call, no builder carries a stage-only
    flag, and no broad ``except Exception`` swallows a failure in the
    multimodal operators, the query registry or the WebDataset sink."""
    root = Path(pkg.__file__).parent

    def tree(rel):
        return ast.parse((root / rel).read_text())

    calls = [
        node for node in ast.walk(tree("operators/multimodal.py"))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
    ]
    assert len(calls) == 1

    broad = [
        f"{rel}:{node.lineno}"
        for rel in ("operators/multimodal.py", "queries.py", "sinks/webdataset.py")
        for node in ast.walk(tree(rel))
        if isinstance(node, ast.ExceptHandler)
        and (node.type is None
             or any(isinstance(t, ast.Name) and t.id == "Exception" for t in ast.walk(node.type)))
    ]
    assert broad == []

    flag = "_fn_only"
    uses = [
        f"{path.name}:{node.lineno}"
        for path in [*root.rglob("*.py"), *Path(__file__).parent.rglob("*.py")]
        for node in ast.walk(ast.parse(path.read_text()))
        if flag in (getattr(node, "arg", None), getattr(node, "id", None),
                    getattr(node, "attr", None))
    ]
    assert uses == []
