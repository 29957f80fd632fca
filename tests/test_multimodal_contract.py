"""Contract of every multimodal operator (operators/multimodal.py) on
one small edge batch: valid PPM/JPEG/PNG/GIF/BMP/WAV/Motion-JPEG MP4
payloads next to NULL, empty, truncated and false-sniff payloads.

Pinned per operator: the output schema, every row's ``decoder`` tag,
which hash rows are NULL, and the fan-out row counts of the three
frame samplers. The operators that are a decode proof must still
raise on a payload of the wrong kind. A last test pins the structure
of the module: two ``mapInPandas`` loops and one image-format dispatch.
"""

from __future__ import annotations

import ast
import inspect
import struct
import zlib

import numpy as np
import pytest

from data_analyse_marche_emploi_spark.operators import media_codecs as MC
from data_analyse_marche_emploi_spark.operators import multimodal as M
from data_analyse_marche_emploi_spark.operators.bmp import encode_bmp
from data_analyse_marche_emploi_spark.operators.gif import (
    encode_gif,
    encode_gif_animated,
)
from data_analyse_marche_emploi_spark.operators.jpeg import (
    encode_jpeg,
    encode_jpeg_progressive,
)
from data_analyse_marche_emploi_spark.operators.mp4 import (
    encode_minimal_mp4,
    encode_mjpeg_mp4,
)
from data_analyse_marche_emploi_spark.operators.png import encode_png


def _rgba_png() -> bytes:
    """4×4 RGBA PNG (color type 6): the one payload whose alpha plane
    ``_decode_pixels`` drops but ``extract_features`` averages."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    rgba = np.random.default_rng(2).integers(0, 256, (4, 4, 4), dtype=np.uint8)
    lines = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )


def _tone_wav() -> bytes:
    """8 windows of 1024 8-bit samples, window k a pure tone at rFFT bin
    64·(k + 1): the last window sits on the Nyquist bin, so the packed
    fingerprint sets bit 63 and must arrive as a negative int64."""
    n = np.arange(1024)
    wave = np.concatenate(
        [np.cos(2 * np.pi * 64 * (k + 1) * n / 1024) for k in range(8)]
    )
    return MC.encode_wav_pcm8(
        np.clip(np.round(128 + 100 * wave), 0, 255).astype(np.uint8).tobytes()
    )


_GRAD = ((np.arange(16)[None, :] + 5 * np.arange(8)[:, None]) % 256).astype(np.uint8)
_RGB = np.repeat(_GRAD[:, :, None], 3, axis=2)
_JPEG = encode_jpeg(np.full((8, 16, 1), 77, np.uint8))
_WAV = _tone_wav()
_MJPEG = encode_mjpeg_mp4(
    [encode_jpeg(np.full((8, 16, 1), v, np.uint8)) for v in (10, 200)],
    width=16, height=8,
)

# (name, payload); a row's doc_id is its index here
EDGE = [
    ("ppm", MC.encode_ppm(_RGB)),
    ("jpeg", _JPEG),
    ("png_rgba", _rgba_png()),
    ("gif", encode_gif(_RGB)),
    ("bmp", encode_bmp(_GRAD[:, :, None])),
    ("wav", _WAV),
    ("mjpeg_mp4", _MJPEG),
    ("null", None),
    ("empty", b""),
    ("jpeg_trunc", _JPEG[:6]),
    ("wav_trunc", _WAV[:20]),
    ("mp4_trunc", _MJPEG[:40]),
    ("false_ppm", b"P6 est un processeur"),
    ("gif_anim", encode_gif_animated(
        [np.full((4, 8, 3), v, np.uint8) for v in (5, 60, 250)])),
    ("mp4_plain", encode_minimal_mp4(1500, 1000, 32, 16, b"\x01" * 3000)),
    ("jpeg_prog", encode_jpeg_progressive(np.full((16, 16, 1), 33, np.uint8))),
    ("png", encode_png(_GRAD[:, :, None])),
]
NAMES = [name for name, _ in EDGE]


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(
        [(i, p) for i, (_, p) in enumerate(EDGE)], "doc_id long, media binary"
    )


def _only(df, *names):
    return df.filter(df.doc_id.isin([NAMES.index(n) for n in names]))


def _by_name(rows):
    """{edge name: [row, ...]} in doc_id, then frame order."""
    def order(r):
        return r["doc_id"], r["frame_idx"] if "frame_idx" in r else 0

    out: dict[str, list] = {}
    for r in sorted(rows, key=order):
        out.setdefault(NAMES[r["doc_id"]], []).append(r)
    return out


_ONE_ROW = "struct<doc_id:bigint,{}>"
# operator → (schema fields, default decoder tag, {edge name: tag} overrides);
# one output row per input row, NULL and empty included
ONE_ROW_OPS = {
    "resize_images": (
        "width:int,height:int,n_bytes:bigint,decoder:string", "fake-resize-v0",
        {"ppm": "ppm-nn-v1", "jpeg": "jpeg-nn-v1", "png_rgba": "png-nn-v1",
         "gif": "gif-nn-v1", "bmp": "bmp-nn-v1", "gif_anim": "gif-nn-v1",
         "jpeg_prog": "jpeg-nn-v1", "png": "png-nn-v1",
         "jpeg_trunc": "fake-resize-v0-invalid",
         "false_ppm": "fake-resize-v0-invalid"},
    ),
    "resize_images_area": (
        "width:int,height:int,mean_pixel:double,decoder:string",
        "fake-area-v0-invalid",
        {"ppm": "ppm-area-v1", "jpeg": "jpeg-area-v1", "png_rgba": "png-area-v1",
         "gif": "gif-area-v1", "bmp": "bmp-area-v1", "gif_anim": "gif-area-v1",
         "jpeg_prog": "jpeg-area-v1", "png": "png-area-v1"},
    ),
    "extract_audio_features": (
        "n_windows:int,duration_proxy:double,band_energy:array<double>,"
        "decoder:string", "fake-audio-v0",
        {"wav": "wav-pcm8-v1", "wav_trunc": "fake-audio-v0-invalid"},
    ),
    "extract_features": (
        "n_bytes:bigint,fake_mean:double,fake_first:bigint,decoder:string",
        "fake-v0",
        {"ppm": "ppm-v1", "jpeg": "jpeg-baseline-v1", "png_rgba": "png-v1",
         "gif": "gif-v1", "bmp": "bmp-v1", "wav": "wav-pcm8-v1",
         "gif_anim": "gif-v1", "jpeg_prog": "jpeg-progressive-v1", "png": "png-v1",
         "jpeg_trunc": "fake-v0-invalid", "wav_trunc": "fake-v0-invalid",
         "false_ppm": "fake-v0-invalid"},
    ),
    "image_phash": (
        "phash:bigint,decoder:string", "phash-v1-invalid",
        {"ppm": "phash-v1", "jpeg": "phash-v1", "png_rgba": "phash-v1",
         "gif": "phash-v1", "bmp": "phash-v1", "gif_anim": "phash-v1",
         "jpeg_prog": "phash-v1", "png": "phash-v1",
         "null": "phash-v1-empty", "empty": "phash-v1-empty"},
    ),
    "extract_audio_fingerprint": (
        "afp:bigint,decoder:string", "afp-v1-invalid", {"wav": "afp-v1"},
    ),
}

# 63-bit hashes must reach Spark exactly (a float64 column would round
# them); every row not listed here carries a NULL hash
PHASH = {
    "ppm": 9185934039826369024, "gif": 9185934039826369024,
    "bmp": 9185934039826369024, "png": 9185934039826369024,
    "jpeg": 3816101989478135029, "png_rgba": 3533051999379017422,
    "gif_anim": 7342420489119298037, "jpeg_prog": 7270469515480794357,
}
AFP = {"wav": -9191740941672636400}  # bit 63 set: two's complement


@pytest.mark.parametrize("op", sorted(ONE_ROW_OPS))
def test_one_row_operators_pin_schema_and_tags(edge, op):
    fields, default, overrides = ONE_ROW_OPS[op]
    out = getattr(M, op)(edge)
    assert out.schema.simpleString() == _ONE_ROW.format(fields)
    rows = _by_name(out.collect())
    assert {n: [r["decoder"] for r in rs] for n, rs in rows.items()} == {
        n: [overrides.get(n, default)] for n in NAMES
    }
    hashes = {"image_phash": ("phash", PHASH),
              "extract_audio_fingerprint": ("afp", AFP)}.get(op)
    if hashes:
        col, pinned = hashes
        assert {n: rs[0][col] for n, rs in rows.items()} == {
            n: pinned.get(n) for n in NAMES
        }


# operator → (schema fields, {edge name: [decoder tag per output row]});
# NULL payloads fan out to no row, every other payload to one or more
FANOUT_OPS = {
    "sample_frames": (
        "frame_idx:int,frame_bytes:binary,decoder:string",
        "fake-framesample-v0",
        {"wav": ["fake-framesample-v0"] * 4, "mjpeg_mp4": ["mp4-slice-v1"],
         "mp4_plain": ["mp4-slice-v1"] * 2,
         "mp4_trunc": ["fake-framesample-v0-invalid"]},
    ),
    "sample_gif_frames": (
        "frame_idx:int,width:int,height:int,mean_pixel:double,decoder:string",
        "gif-anim-v1-corrupt",
        {"gif": ["gif-anim-v1"], "gif_anim": ["gif-anim-v1"] * 3},
    ),
}


@pytest.mark.parametrize("op", sorted(FANOUT_OPS))
def test_fanout_samplers_pin_row_counts_and_tags(edge, op):
    fields, default, overrides = FANOUT_OPS[op]
    out = getattr(M, op)(edge)
    assert out.schema.simpleString() == _ONE_ROW.format(fields)
    rows = _by_name(out.collect())
    assert {n: [r["decoder"] for r in rs] for n, rs in rows.items()} == {
        n: overrides.get(n, [default]) for n in NAMES if n != "null"
    }
    for rs in rows.values():
        assert [r["frame_idx"] for r in rs] == list(range(len(rs)))


def test_sample_video_frames_fans_out_mjpeg_and_skips_null(edge):
    out = M.sample_video_frames(_only(edge, "mjpeg_mp4", "null"))
    assert out.schema.simpleString() == _ONE_ROW.format(
        "frame_idx:int,width:int,height:int,mean_pixel:double,decoder:string"
    )
    rows = _by_name(out.collect())
    assert [(r["frame_idx"], r["width"], r["height"], r["mean_pixel"], r["decoder"])
            for r in rows.pop("mjpeg_mp4")] == [
        (0, 16, 8, 10.0, "mp4-mjpeg-v1"), (1, 16, 8, 200.0, "mp4-mjpeg-v1")
    ]
    assert rows == {}


# decode-proof operators: the valid payloads they accept, their schema
# and tags, and payloads of the wrong kind that must fail the job
PROOF_OPS = {
    "extract_image_meta": (
        "width:int,height:int,channels:int,mean_pixel:double,decoder:string",
        {"ppm": "ppm-v1", "jpeg": "jpeg-baseline-v1", "png_rgba": "png-v1",
         "gif": "gif-v1", "bmp": "bmp-v1", "jpeg_prog": "jpeg-progressive-v1",
         "png": "png-v1"},
        ("wav", "false_ppm", "mp4_plain", "null"),
    ),
    "extract_wav_meta": (
        "n_channels:int,sample_rate:int,bits:int,n_samples:bigint,"
        "duration_s:double,decoder:string",
        {"wav": "wav-pcm8-v1"}, ("jpeg", "null"),
    ),
    "extract_audio_spectral": (
        "n_samples:bigint,dominant_bin:int,decoder:string",
        {"wav": "wav-rfft-v1"}, ("png",),
    ),
    "extract_video_meta": (
        "duration_s:double,n_tracks:int,video_width:int,video_height:int,"
        "mdat_bytes:bigint,decoder:string",
        {"mjpeg_mp4": "mp4-bmff-v1", "mp4_plain": "mp4-bmff-v1"}, ("jpeg",),
    ),
    "sample_video_frames": (None, {}, ("wav", "empty", "mp4_plain")),
}


@pytest.mark.parametrize("op", sorted(PROOF_OPS))
def test_decode_proof_operators_pin_tags_and_raise_on_wrong_kind(edge, op):
    fields, tags, wrong = PROOF_OPS[op]
    fn = getattr(M, op)
    if tags:
        out = fn(_only(edge, *tags))
        assert out.schema.simpleString() == _ONE_ROW.format(fields)
        assert {n: [r["decoder"] for r in rs]
                for n, rs in _by_name(out.collect()).items()} == {
            n: [t] for n, t in tags.items()
        }
    # every refusal is a ValueError; the image dispatch's refusal is a
    # ValueError subclass, so its traceback shows its message instead
    for name in wrong:
        with pytest.raises(Exception, match="ValueError|not a decodable image"):
            fn(_only(edge, name)).collect()


def test_image_meta_keeps_alpha_channels_and_raw_mean(edge):
    """extract_image_meta and extract_features average every decoded
    plane, alpha included; the pixel operators see RGB only."""
    rgba = np.random.default_rng(2).integers(0, 256, (4, 4, 4), dtype=np.uint8)
    [meta] = M.extract_image_meta(_only(edge, "png_rgba")).collect()
    assert (meta["width"], meta["height"], meta["channels"]) == (4, 4, 4)
    assert meta["mean_pixel"] == float(rgba.mean())
    [feat] = M.extract_features(_only(edge, "png_rgba")).collect()
    assert (feat["fake_mean"], feat["fake_first"]) == (float(rgba.mean()), 16)
    [area] = M.resize_images_area(_only(edge, "png_rgba"), 4, 4).collect()
    assert area["mean_pixel"] == float(rgba[..., :3].mean())


# hash dedup: {edge name: (n_copies, is_canonical)}; NULL hashes drop out
DEDUP_OPS = {
    "dedup_image_phash": {
        "ppm": (4, True), "gif": (4, False), "bmp": (4, False), "png": (4, False),
        "jpeg": (1, True), "png_rgba": (1, True), "gif_anim": (1, True),
        "jpeg_prog": (1, True),
    },
    "dedup_audio_fingerprint": {"wav": (1, True)},
    "dedup_video_phash": {"mjpeg_mp4": (1, True)},
}


@pytest.mark.parametrize("op", sorted(DEDUP_OPS))
def test_hash_dedup_clusters(edge, op):
    out = getattr(M, op)(edge)
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,n_copies:bigint,is_canonical:boolean>"
    )
    assert {n: (r["n_copies"], r["is_canonical"])
            for n, [r] in _by_name(out.collect()).items()} == DEDUP_OPS[op]


# synth operator → the extract_features tag of every payload it makes
SYNTH_TAGS = {
    "synth_bmp": "bmp-v1", "synth_gif": "gif-v1", "synth_gif_animated": "gif-v1",
    "synth_gradient_ppm": "ppm-v1", "synth_image_patterns": "ppm-v1",
    "synth_jpeg": "jpeg-baseline-v1",
    "synth_jpeg_progressive": "jpeg-progressive-v1",
    "synth_mixed_media": None, "synth_mjpeg_mp4": "fake-v0",
    "synth_mjpeg_textures": "fake-v0", "synth_mp4": "fake-v0",
    "synth_png": "png-v1", "synth_tone_sequences": "wav-pcm8-v1",
    "synth_wav": "wav-pcm8-v1", "synth_wav_tone": "wav-pcm8-v1",
}
# id % 3 picks WAV / JPEG / PNG; id 7 ships truncated
MIXED = ["wav-pcm8-v1", "jpeg-baseline-v1", "png-v1"] * 4
MIXED[7] = "fake-v0-invalid"


def test_synth_operators_cover_the_module():
    assert sorted(SYNTH_TAGS) == sorted(
        n for n in dir(M) if n.startswith("synth_")
    )


@pytest.mark.parametrize("op", sorted(SYNTH_TAGS))
def test_synth_operators_pin_schema_and_format(spark, op):
    docs = spark.createDataFrame(
        [(i, f"texte {i} é" * (i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    out = (M.synth_wav(docs, "text", "doc_id") if op == "synth_wav"
           else getattr(M, op)(docs, "doc_id"))
    assert out.schema.simpleString() == "struct<doc_id:bigint,media:binary>"
    tags = [r["decoder"]
            for r in M.extract_features(out).orderBy("doc_id").collect()]
    assert tags == (MIXED if op == "synth_mixed_media" else [SYNTH_TAGS[op]] * 12)


IMAGE_DECODERS = {"decode_ppm", "decode_jpeg", "decode_png", "decode_gif", "decode_bmp"}


def test_module_has_two_loops_and_one_image_dispatch():
    """Every operator goes through ``_synth`` or ``_extract`` (the only
    two ``mapInPandas`` calls), and ``_decode_image`` is the only
    function that picks among the image decoders, so per-operator
    loops and sniff→decoder chains do not come back."""
    src = inspect.getsource(M)
    assert src.count("mapInPandas(") == 2
    dispatchers = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef):
            used = {n.id if isinstance(n, ast.Name) else n.attr
                    for n in ast.walk(node)
                    if isinstance(n, (ast.Name, ast.Attribute))}
            if len(used & IMAGE_DECODERS) > 1:
                dispatchers.add(node.name)
    assert dispatchers == {"_decode_image"}
