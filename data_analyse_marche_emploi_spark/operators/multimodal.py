"""Multimodal-column operators (north-star extension, BASELINE.json):
image/audio/video payloads as opaque ``binary`` columns with a typed
metadata struct, plus decode / feature-extraction plumbing as
Arrow-batched Pandas operations over ``mapInPandas``.

Decoding is REAL for WAV (RIFF PCM parse + sample decode + rFFT
spectral features), PPM/PGM (netpbm parse + exact nearest-neighbor
resize), baseline JPEG (full T.81 decode: Huffman → dequant → IDCT →
chroma upsample → YCbCr→RGB, ``operators.jpeg``), PNG (zlib inflate +
all five scanline filters, ``operators.png``), MP4 container METADATA
(ISO BMFF box walk, ``operators.mp4``), and Motion-JPEG VIDEO FRAMES
(sample-table walk → per-frame T.81 decode, ``sample_video_frames``)
via dependency-free pure-numpy/stdlib codecs; payloads in any other
format — including video tracks in codecs we cannot legally ship here
(avc1/hevc) — fall back to a deterministic fake decoder (this
container has no PIL/ffmpeg — swapping an image codec for a library
is a one-function change in ``_decode_image``, the sniff→decoder
dispatch every image operator goes through).
Everything Spark-side is real and tested either way: the schema,
the binary column handling, the ``mapInPandas`` batch iteration, the
output schema contract, and the partition-preserving shape.

Two bodies hold every ``mapInPandas`` loop: ``_synth`` (id → payload,
the fixture manufacturers) and ``_extract`` (payload → 0..n feature
rows, the extractors, samplers and hashers). Each operator is its
per-row function plus its docstring.

Scale notes: binary payloads ride the columnar Parquet path (no
base64); ``mapInPandas`` streams Arrow record batches so peak memory is
one batch, not one partition; feature extraction is embarrassingly
parallel (no shuffle).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import media_codecs as MC
from .bmp import decode_bmp, encode_bmp
from .gif import decode_gif, decode_gif_frames, encode_gif, encode_gif_animated
from .jpeg import classify_jpeg, decode_jpeg, encode_jpeg, encode_jpeg_progressive
from .mp4 import (
    encode_minimal_mp4,
    encode_mjpeg_mp4,
    extract_video_samples,
    parse_mp4,
    sniff_mp4,
)
from .png import decode_png, encode_png

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, fake_mean double, fake_first long, decoder string"
)


def _synth(docs: DataFrame, id_col: str, payload_of: Callable,
           memo_key: Callable | None = None,
           text_col: str | None = None) -> DataFrame:
    """The one synthesis body: ``(doc_id, media)`` with ``media =
    payload_of(id)`` per row (``payload_of(text)`` when ``text_col`` is
    given). With ``memo_key``, each worker builds one payload per
    distinct ``memo_key(id)`` — the pure-Python encoders run once per
    distinct image, while the decode side under test still runs on every
    row."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in it:
            args = pdf[text_col] if text_col else [int(i) for i in pdf[id_col]]
            if memo_key is None:
                payloads = [payload_of(a) for a in args]
            else:
                payloads = []
                for a in args:
                    key = memo_key(a)
                    if key not in memo:
                        memo[key] = payload_of(a)
                    payloads.append(memo[key])
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    cols = [id_col, text_col] if text_col else [id_col]
    return docs.select(*cols).mapInPandas(batches, "doc_id long, media binary")


def _extract(media_df: DataFrame, id_col: str,
             rows_of: Callable[[bytes | None], Iterable[tuple]],
             schema: str) -> DataFrame:
    """The one extraction body: each ``media`` payload becomes the rows
    ``(doc_id, *row) for row in rows_of(payload)`` — one row for a
    per-payload feature, several for a frame sampler's fan-out, none to
    skip the payload. ``schema`` is a flat DDL string whose first field
    is the id. Columns reach Arrow as Python objects, so NULLs and
    63-bit hashes arrive exact (a pandas-inferred float64 column would
    round them)."""
    names = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [(doc_id, *row)
                    for doc_id, payload in zip(pdf[id_col], pdf["media"])
                    for row in rows_of(payload)]
            cols = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=object) for n, c in zip(names, cols)}
            )

    return media_df.mapInPandas(batches, schema)


def _hash_clusters(hashes: DataFrame, hash_col: str, id_col: str) -> DataFrame:
    """Cluster ``(doc_id, hash_col)`` rows on the exact hash: per row,
    the family size and whether it is the min-id (canonical) member.
    NULL hashes (undecodable payloads) drop out. The rollup is a window
    over the hash partition, so the hashes are computed once."""
    w = Window.partitionBy(hash_col)
    return hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col("doc_id").alias(id_col),
        F.count(F.lit(1)).over(w).alias("n_copies"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
    )


def _gradient(i: int, h: int) -> np.ndarray:
    """(h, 256, 1) uint8 gray gradient, pixel(y, x) = (x + y + i) % 256:
    every row spans all 256 residues, so its mean is exactly 127.5."""
    yy, xx = np.mgrid[0:h, 0:256]
    return ((xx + yy + i) % 256).astype(np.uint8)[:, :, None]


def attach_media(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a multimodal table from the documents fixture: the UTF-8
    bytes of the text stand in for an opaque media payload, with a typed
    metadata struct alongside (the pattern for real image/audio columns:
    payload + struct{format, size, ...})."""
    media = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col),
        media.alias("media"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.length(media).alias("n_bytes"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for formats we can't parse natively
    (no PIL/ffmpeg in this environment). Well-formed WAV and PPM
    payloads route to the real parsers; payloads that merely sniff as
    WAV/PPM but fail to parse degrade here (tagged ``-invalid``)."""
    if payload is None or len(payload) == 0:
        return {"n_bytes": 0, "fake_mean": 0.0, "fake_first": -1, "decoder": "fake-v0"}
    return {
        "n_bytes": len(payload),
        "fake_mean": sum(payload[:64]) / min(len(payload), 64),
        "fake_first": payload[0],
        "decoder": "fake-v0",
    }


class _NotAnImage(ValueError):
    """The payload does not sniff as any image format ``_decode_image``
    knows (as opposed to an image payload that fails to decode)."""


def _decode_image(b: bytes) -> tuple[dict, str, str]:
    """The one image sniff→decoder dispatch (PPM/JPEG/PNG/GIF/BMP):
    ``(decoded, kind, tag)``, where ``decoded`` is the codec's
    ``{width, height, channels, pixels, ...}`` and ``tag`` is the
    decoder tag, ``jpeg-{mode}-v1`` or ``{kind}-v1``. A new format or a
    decoder contract change lands here once. Raises ``_NotAnImage``
    when the payload sniffs as no image, and the codec's error when an
    image payload is corrupt."""
    kind = MC.sniff_format(b)
    decode = {"ppm": MC.decode_ppm, "jpeg": decode_jpeg, "png": decode_png,
              "gif": decode_gif, "bmp": decode_bmp}.get(kind)
    if decode is None:
        raise _NotAnImage(f"not a decodable image payload ({kind})")
    d = decode(b)
    return d, kind, f"jpeg-{d['mode']}-v1" if kind == "jpeg" else f"{kind}-v1"


def _decode(payload: bytes) -> dict:
    """Format-dispatched decode: real RIFF/PCM parse for WAV, real
    netpbm parse for PPM/PGM, deterministic fake for anything else.
    ``fake_mean`` carries the real signal statistic where decode is
    real (mean |amplitude| for audio, mean pixel value for images).

    Magic-byte sniffing has false positives — arbitrary text starting
    with ``P6 `` sniffs as PPM — and a malformed payload must degrade
    to the fake decoder (tagged ``-invalid``), never abort the Spark
    task: one bad row would otherwise kill the whole job."""
    kind = MC.sniff_format(payload)
    try:
        if kind == "wav":
            w = MC.decode_wav(payload)
            return {
                "n_bytes": len(payload),
                "fake_mean": float(np.abs(w["samples"]).mean())
                if w["n_samples"]
                else 0.0,
                "fake_first": w["n_samples"],
                "decoder": f"wav-pcm{w['bits']}-v1",
            }
        d, _, tag = _decode_image(payload)
        return {
            "n_bytes": len(payload),
            "fake_mean": float(d["pixels"].mean()),
            "fake_first": d["width"] * d["height"],
            "decoder": tag,
        }
    except _NotAnImage:
        return _fake_decode(payload)
    except Exception:
        out = _fake_decode(payload)
        # a VALID lossless/hierarchical/arithmetic JPEG is not
        # corruption — tag the class so curation reports count it
        # honestly instead of lumping it into the corrupt channel.
        # (Progressive SOF2 decodes for real since round 5, so a
        # failing progressive payload IS corrupt and falls through.)
        if kind == "jpeg" and classify_jpeg(payload) == "other-sof":
            out["decoder"] = "jpeg-other-sof-unsupported"
        else:
            out["decoder"] = "fake-v0-invalid"
        return out


RESIZE_SCHEMA = "doc_id long, width int, height int, n_bytes long, decoder string"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary, decoder string"


def resize_images(media_df: DataFrame, width: int = 224, height: int = 224,
                  id_col: str = "doc_id") -> DataFrame:
    """Image resize over mapInPandas. PPM/PGM payloads get a REAL
    nearest-neighbor resample (media_codecs.resize_nearest — exact
    integer index math, PIL-NEAREST pixel-center convention) and report
    the true re-encoded byte size; other formats fall back to a
    deterministic size stub (no PIL/cv2 here). Spark-side contract —
    binary in, fixed (width, height, bytes) out, Arrow batching, zero
    shuffle — identical on both paths."""

    def rows_of(b):
        if not b:
            return [(width, height, 0, "fake-resize-v0")]
        try:
            pixels, kind = _decode_pixels(bytes(b))
            resized = MC.resize_nearest(pixels, width, height)
            return [(width, height, len(MC.encode_ppm(resized)), f"{kind}-nn-v1")]
        except _NotAnImage:
            tag = "fake-resize-v0"
        except Exception:
            # sniff false-positive / malformed image: degrade, don't
            # abort the task
            tag = "fake-resize-v0-invalid"
        return [(width, height, min(len(b), width * height * 3), tag)]

    return _extract(media_df, id_col, rows_of, RESIZE_SCHEMA)


def resize_images_area(media_df: DataFrame, width: int = 224,
                       height: int = 224, id_col: str = "doc_id") -> DataFrame:
    """Anti-aliased image resize (area average — the correct DOWNSCALE
    filter; nearest-neighbor aliases high frequencies into the
    thumbnail, which poisons vision training data): decode via the
    shared dispatch, box-average via media_codecs.resize_area, and emit
    the resized dims + mean pixel. mapInPandas, zero shuffle; corrupt
    rows degrade per-row."""

    def rows_of(b):
        try:
            pixels, kind = _decode_pixels(bytes(b))
            mean = float(MC.resize_area(pixels, width, height).mean())
            return [(width, height, mean, f"{kind}-area-v1")]
        except Exception:
            return [(width, height, -1.0, "fake-area-v0-invalid")]

    return _extract(
        media_df, id_col, rows_of,
        "doc_id long, width int, height int, mean_pixel double, decoder string",
    )


def synth_gradient_ppm(docs: DataFrame, id_col: str) -> DataFrame:
    """256×4 gray-gradient PPMs (pixel = (x + y + id) % 256) for the
    area-resize oracle: a 2× box over the gradient covers values
    {v, v+1, v+1, v+2} whose sum is divisible by 4 even across the
    mod-256 wrap, so every area-averaged output pixel is an EXACT
    integer the SQL oracle recomputes cell by cell."""
    return _synth(docs, id_col, lambda i: MC.encode_ppm(_gradient(i, 4)),
                  memo_key=lambda i: i % 256)


def sample_frames(media_df: DataFrame, every_n_bytes: int = 1024,
                  max_frames: int = 4, id_col: str = "doc_id") -> DataFrame:
    """Video frame-sampling plumbing over mapInPandas: one payload row
    fans out to ≤ max_frames frame rows (a row-expanding UDTF shape).

    For ISO BMFF payloads the container parse is REAL (operators/mp4.py
    locates the mdat sample data) and slices are taken from within the
    actual media payload region, tagged ``mp4-slice-v1``; decoding the
    slice into pixels remains the documented STUB (no ffmpeg/cv2 in
    this environment — each slice stands in for a decoded keyframe).
    Non-BMFF payloads fall back to whole-payload slices. The fan-out
    schema and Arrow batch handling are identical on both paths."""

    def rows_of(payload):
        if payload is None:
            return []
        region, tag = payload, "fake-framesample-v0"
        if sniff_mp4(payload):
            try:
                meta = parse_mp4(payload)
                if meta["mdat_bytes"]:
                    # real sample-data bounds from the box walk
                    start = meta["mdat_offset"]
                    region = payload[start : start + meta["mdat_bytes"]]
                    tag = "mp4-slice-v1"
            except ValueError:
                tag = "fake-framesample-v0-invalid"
        n = min(max_frames, max(1, len(region) // every_n_bytes))
        return [(i, bytes(region[i * every_n_bytes:(i + 1) * every_n_bytes]), tag)
                for i in range(n)]

    return _extract(media_df, id_col, rows_of, FRAME_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id long, n_windows int, duration_proxy double, band_energy array<double>, "
    "decoder string"
)


def extract_audio_features(media_df: DataFrame, window_bytes: int = 2048,
                           n_bands: int = 4, id_col: str = "doc_id") -> DataFrame:
    """Audio features over mapInPandas: payload → windowed summary
    (window count, duration, per-band energies). WAV payloads are
    REALLY decoded (RIFF parse → PCM samples → time-sliced mean
    |amplitude| per band, true duration in seconds); other formats use
    a deterministic byte-slice stub (no torchaudio/librosa here). The
    schema, fixed-length feature vector, and Arrow batch shape are
    identical on both paths."""

    def rows_of(payload):
        if not payload:
            return [(0, 0.0, [0.0] * n_bands, "fake-audio-v0")]
        tag = "fake-audio-v0"
        if MC.sniff_format(payload) == "wav":
            try:
                w = MC.decode_wav(payload)
                n_windows = max(1, w["n_samples"] // window_bytes)
                bands = MC.wav_band_energies(w["samples"], n_bands)
                return [(n_windows, w["duration_s"], bands, f"wav-pcm{w['bits']}-v1")]
            except Exception:
                # sniff false-positive / malformed: byte-slice stub,
                # tagged so corruption is countable like the other paths
                tag = "fake-audio-v0-invalid"
        step = max(1, len(payload) // n_bands)
        slices = [payload[i * step:(i + 1) * step] for i in range(n_bands)]
        bands = [sum(s) / max(1, len(s)) for s in slices]
        return [(max(1, len(payload) // window_bytes), len(payload) / window_bytes,
                 bands, tag)]

    return _extract(media_df, id_col, rows_of, AUDIO_SCHEMA)


WAV_META_SCHEMA = (
    "doc_id long, n_channels int, sample_rate int, bits int, n_samples long, "
    "duration_s double, decoder string"
)


def synth_wav(docs: DataFrame, text_col: str, id_col: str,
              sample_rate: int = 8000) -> DataFrame:
    """Manufacture REAL WAV payloads from the documents fixture: each
    UTF-8 byte of the text becomes one unsigned 8-bit PCM sample in a
    valid RIFF container. Deterministic, so decoded metadata has an
    arithmetic ground truth (n_samples = octet_length(text))."""
    return _synth(docs, id_col,
                  lambda t: MC.encode_wav_pcm8(t.encode("utf-8"), sample_rate),
                  text_col=text_col)


def extract_wav_meta(media_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse each WAV payload's container for real (RIFF chunk walk +
    PCM decode — media_codecs.decode_wav) and emit the decoded
    metadata. Raises on non-WAV payloads: this operator IS the decode
    proof, silent fallback would defeat it."""

    def rows_of(b):
        w = MC.decode_wav(b)
        return [(w["n_channels"], w["sample_rate"], w["bits"], w["n_samples"],
                 w["duration_s"], f"wav-pcm{w['bits']}-v1")]

    return _extract(media_df, id_col, rows_of, WAV_META_SCHEMA)


SPECTRAL_SCHEMA = (
    "doc_id long, n_samples long, dominant_bin int, decoder string"
)


def synth_wav_tone(docs: DataFrame, id_col: str, sample_rate: int = 8000,
                   n_samples: int = 1024) -> DataFrame:
    """Manufacture REAL WAV payloads carrying a pure sine tone whose
    frequency is an arithmetic function of the id: f = 100 + 100 *
    (id % 20) Hz (all below Nyquist at 8 kHz). 8-bit PCM quantization
    adds broadband noise ~40 dB below the tone, so the tone's FFT bin
    stays the unambiguous argmax — giving the spectral extractor an
    arithmetic ground truth."""

    def payload(i):
        f = 100.0 + 100.0 * (i % 20)
        wave = 128.0 + 100.0 * np.sin(2 * np.pi * f * np.arange(n_samples) / sample_rate)
        raw = np.clip(np.round(wave), 0, 255).astype(np.uint8).tobytes()
        return MC.encode_wav_pcm8(raw, sample_rate)

    return _synth(docs, id_col, payload)


def extract_audio_spectral(media_df: DataFrame, id_col: str = "doc_id",
                           n_fft: int = 1024) -> DataFrame:
    """REAL frequency-domain audio analysis: decode the WAV container
    (media_codecs.decode_wav), run an rFFT over the first ``n_fft``
    samples, and report the dominant non-DC bin — the fundamental
    feature of pitch/voice-activity pipelines. Raises on non-WAV
    payloads (this operator is a decode+DSP proof). mapInPandas,
    zero shuffle; FFT cost is O(n_fft log n_fft) per row, vectorized
    in numpy per Arrow batch."""

    def rows_of(b):
        w = MC.decode_wav(b)
        mag = np.abs(np.fft.rfft(w["samples"][:n_fft], n=n_fft))
        return [(w["n_samples"], int(np.argmax(mag[1:])) + 1, "wav-rfft-v1")]  # skip DC

    return _extract(media_df, id_col, rows_of, SPECTRAL_SCHEMA)


def synth_mixed_media(docs: DataFrame, id_col: str,
                      corrupt_every: int = 10) -> DataFrame:
    """Manufacture a MIXED-FORMAT media column deterministically: per
    id, modality id%3 selects flat-PCM WAV (0), flat-gray JPEG (1), or
    gradient PNG (2) — each with an arithmetic decoded-feature ground
    truth — and every ``corrupt_every``-th id (offset 7) ships
    TRUNCATED (6 bytes) to exercise the corrupt-payload path the way a
    real crawl does. The pipeline entry proves dispatch + decode +
    error-channel filtering end-to-end against a SQL oracle."""

    def payload(i):
        v = i % 256
        if i % 3 == 0:
            p = MC.encode_wav_pcm8(bytes([v]) * 400, 8000)
        elif i % 3 == 1:
            p = encode_jpeg(np.full((16, 16, 1), v, dtype=np.uint8))
        else:
            p = encode_png(_gradient(i, 2))
        # truncated mid-header: must not kill the task
        return p[:6] if i % corrupt_every == 7 else p

    return _synth(docs, id_col, payload)


VIDEO_META_SCHEMA = (
    "doc_id long, duration_s double, n_tracks int, video_width int, "
    "video_height int, mdat_bytes long, decoder string"
)


def synth_mp4(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL ISO BMFF containers deterministically: duration
    = 0.5 * (1 + id % 24) s at a 1000 timescale, dimensions and mdat
    size arithmetic in the id — a valid ftyp/moov/mdat file whose
    parsed metadata has exact ground truth."""
    return _synth(docs, id_col, lambda i: encode_minimal_mp4(
        duration=500 * (1 + i % 24),
        timescale=1000,
        width=16 * (4 + i % 5),
        height=16 * (3 + i % 3),
        mdat=b"\x00" * (1 + i % 97),
    ))


def extract_video_meta(media_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse each MP4 container for real (ISO BMFF box walk —
    operators/mp4.py: mvhd timescale/duration, tkhd 16.16 dimensions,
    hdlr track types, mdat bounds) and emit the decoded metadata.
    Raises on non-BMFF payloads: this operator IS the video-container
    proof (frame decode lives in ``sample_video_frames`` — real for
    Motion-JPEG tracks, opaque-tagged for codecs not present here)."""

    def rows_of(b):
        m = parse_mp4(b)
        return [(m["duration_s"], m["n_tracks"], m["video_width"],
                 m["video_height"], m["mdat_bytes"], "mp4-bmff-v1")]

    return _extract(media_df, id_col, rows_of, VIDEO_META_SCHEMA)


IMAGE_META_SCHEMA = (
    "doc_id long, width int, height int, channels int, mean_pixel double, "
    "decoder string"
)


def synth_jpeg(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL baseline JPEG payloads deterministically from
    the documents fixture: a flat-gray image whose value and dimensions
    are arithmetic functions of the id (value = id % 256, width =
    16 + 8*(id % 3), height = 8 + 8*(id % 2)). With all-ones
    quantization a flat image is a single DC coefficient per block, so
    the decode is BIT-EXACT — giving ``extract_image_meta`` an
    arithmetic SQL oracle that actually checks the decoder (a wrong
    IDCT, Huffman walk, or SOF parse shifts mean_pixel/width/height)."""

    def payload(i):
        w, h = 16 + 8 * (i % 3), 8 + 8 * (i % 2)
        return encode_jpeg(np.full((h, w, 1), i % 256, dtype=np.uint8))

    # (id%6 dims) × (id%256 values) = 1536 distinct payloads
    return _synth(docs, id_col, payload, memo_key=lambda i: (i % 6, i % 256))


def synth_jpeg_progressive(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL progressive (SOF2) JPEG payloads: a two-band
    image — top 8 rows value ``id % 256``, bottom 8 rows
    ``(id * 31) % 256``, width ``16 + 8*(id % 3)`` — so every 8×8
    block is flat (decode is bit-exact under all-ones quantization:
    one DC coefficient per block) and the decoded mean is EXACTLY
    ``(id%256 + (id*31)%256) / 2``. The default cjpeg-style scan
    script walks the full Annex G feature set: interleaved DC first +
    refinement with successive approximation, per-band AC scans whose
    all-zero bands exercise multi-block EOB runs, and AC refinement
    scans. A wrong DC point transform, EOBRUN decode, or refinement
    bit shifts mean_pixel and fails the arithmetic oracle."""

    def payload(i):
        px = np.empty((16, 16 + 8 * (i % 3), 1), dtype=np.uint8)
        px[:8] = i % 256
        px[8:] = (i * 31) % 256
        return encode_jpeg_progressive(px)

    return _synth(docs, id_col, payload,
                  memo_key=lambda i: (i % 256, (i * 31) % 256, i % 3))


def _decode_pixels(b: bytes):
    """Decode any supported image payload (PPM/JPEG/PNG/GIF/BMP) to
    ``(pixels, kind)`` through ``_decode_image``, for the pixel-level
    operators (pHash, resize). Alpha planes are dropped (RGBA→RGB,
    gray+alpha→gray) so downstream math sees uniform RGB/gray. Raises
    ValueError for non-image/corrupt payloads."""
    d, kind, _ = _decode_image(b)
    px = d["pixels"]
    return (px[..., :3] if px.shape[-1] >= 3 else px[..., :1]), kind


def phash64(pixels) -> int:
    """64-bit perceptual hash (classic pHash recipe): grayscale →
    32×32 nearest-neighbor resample → 2-D orthonormal DCT → the 8×8
    low-frequency block minus DC → bit = coefficient > median. Exactly
    deterministic (pure float64 arithmetic on uint8 inputs, median of
    63 values), and invariant to uniform brightness shifts by
    construction (only the discarded DC coefficient changes)."""
    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim == 3:
        px = px.mean(axis=2)
    # resize_nearest is a pure index gather — dtype passes through
    small = MC.resize_nearest(px[:, :, None], 32, 32)[:, :, 0]
    k = np.arange(32)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 64) * np.where(
        k[:, None] == 0, 1 / np.sqrt(2), 1.0
    ) * (1 / 4)
    coef = c @ small @ c.T
    low = coef[:8, :8].reshape(-1)[1:]  # 63 low-freq coefs, DC dropped
    med = float(np.median(low))
    bits = 0
    for i, v in enumerate(low):
        if v > med:
            bits |= 1 << i
    return bits


def image_phash(media_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-image perceptual hash over mapInPandas: (id, phash,
    decoder). Corrupt/non-image payloads degrade per-row (null hash,
    tagged), never per-task. Zero shuffle; at corpus scale the 8-byte
    hash column replaces the image bytes in every downstream dedup
    exchange."""

    def rows_of(b):
        if not b:
            return [(None, "phash-v1-empty")]
        try:
            # phash64 packs 63 bits (indices 0..62), so the value
            # always fits a signed int64 as-is
            return [(phash64(_decode_pixels(bytes(b))[0]), "phash-v1")]
        except ValueError:
            return [(None, "phash-v1-invalid")]

    return _extract(media_df, id_col, rows_of, "doc_id long, phash long, decoder string")


def dedup_image_phash(media_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image-level exact perceptual dedup: decode → pHash → cluster on
    the 64-bit hash (identical and brightness-shifted images collapse
    to one cluster; the min-id member is canonical). One shuffle on the
    8-byte hash — image bytes never shuffle — and ONE decode pass: the
    per-hash rollup is a window over the hash partition (rows are
    (id, hash) — a 10⁶-copy duplicate family buffers ~16 MB, unlike
    the text-carrying window dedup where WindowExec was ruled out; a
    groupBy+join-back would re-run the decode for the probe side or
    need a persist the lazy return could leak). Near-dup (Hamming ≤ 3)
    pairs are available via ``image_phash`` + ``dedup.hamming_pairs``."""
    return _hash_clusters(image_phash(media_df, id_col), "phash", id_col)


def audio_fingerprint(samples, n_windows: int = 8, win: int = 1024) -> int:
    """64-bit spectral audio fingerprint (shazam-lite): per time
    window, the dominant rFFT bin (DC excluded, lowest bin wins ties)
    quantized to a byte, packed window-major. Amplitude-invariant by
    construction — argmax doesn't move under uniform gain — so the
    same recording at different volumes collapses to one fingerprint
    (the audio analog of pHash's brightness invariance)."""
    fp = 0
    for k in range(n_windows):
        w = np.asarray(samples[k * win:(k + 1) * win], dtype=np.float64)
        if len(w) == 0:
            break
        mag = np.abs(np.fft.rfft(w))
        mag[0] = 0.0  # DC carries the PCM bias, not content
        peak = int(np.argmax(mag))
        fp |= min(peak // 4, 255) << (8 * k)
    return fp


def extract_audio_fingerprint(media_df: DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """Per-payload audio fingerprint over mapInPandas: WAV payloads
    decode for real (RIFF parse → PCM → windowed rFFT); corrupt or
    non-WAV rows degrade per-row (null fingerprint, tagged)."""

    def rows_of(b):
        try:
            if not b:
                raise ValueError("not a WAV payload")
            fp = audio_fingerprint(MC.decode_wav(bytes(b))["samples"])
        except ValueError:
            return [(None, "afp-v1-invalid")]
        # the 64-bit value as a signed int64 (two's complement)
        return [(fp - (1 << 64) if fp >= (1 << 63) else fp, "afp-v1")]

    return _extract(media_df, id_col, rows_of, "doc_id long, afp long, decoder string")


def dedup_audio_fingerprint(media_df: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """Audio-level content dedup: decode → spectral fingerprint →
    cluster on the 64-bit value (the same recording at any gain
    collapses; min-id member is canonical). One shuffle on 8-byte
    fingerprints — audio bytes never shuffle."""
    return _hash_clusters(extract_audio_fingerprint(media_df, id_col), "afp", id_col)


def synth_tone_sequences(docs: DataFrame, id_col: str) -> DataFrame:
    """Tone-sequence WAV fixtures for the fingerprint oracle: 8 windows
    of 1024 samples at 8 kHz, window k a pure tone at bin
    32·(1 + (a + k) mod 8) with a = id mod 8 — the window sequence is a
    rotation of one cycle, so ids ≡ (mod 8) share a fingerprint while
    the 8 rotations pack to distinct 64-bit values. The AMPLITUDE
    varies with id (0.3 + (id mod 5)·0.1) across cluster members, so
    the oracle's arithmetic clusters hold only because the fingerprint
    really is gain-invariant."""
    sr, n = 8000, 1024

    def payload(i):
        a, amp = i % 8, 0.3 + (i % 5) * 0.1
        t = np.arange(n) / sr
        chunks = []
        for k in range(8):
            s = np.sin(2 * np.pi * (32 * (1 + (a + k) % 8) * sr / n) * t) * amp
            chunks.append(np.clip(np.round(s * 127 + 128), 0, 255).astype(np.uint8))
        return MC.encode_wav_pcm8(bytes(np.concatenate(chunks)), sr)

    return _synth(docs, id_col, payload, memo_key=lambda i: (i % 8, i % 5))


def synth_mjpeg_textures(docs: DataFrame, id_col: str) -> DataFrame:
    """Textured Motion-JPEG fixtures for the VIDEO pHash oracle: two
    16×16 noise-texture frames per file, texture key a = id mod 10,
    plus a uniform brightness offset 12·((id ÷ 10) mod 5) — keyed on
    id ÷ 10 so it GENUINELY varies between members of one texture
    cluster (an id-mod-5 offset would be constant inside every mod-10
    cluster, since 5 divides 10, making the invariance claim vacuous).
    Textures stay ≤ 195 so the offset never clips — a pure brightness
    shift changes only per-block DC coefficients, which
    unit-quantization JPEG preserves exactly, so the decoded frames
    differ by exactly that shift and the pHash (which discards DC) is
    IDENTICAL across the cluster."""

    def payload(i):
        a, off = i % 10, 12 * ((i // 10) % 5)
        frames = [
            encode_jpeg(np.random.default_rng(a * 100 + k).integers(
                0, 196, (16, 16, 1), dtype=np.uint8) + off)
            for k in range(2)
        ]
        return encode_mjpeg_mp4(frames, width=16, height=16)

    return _synth(docs, id_col, payload, memo_key=lambda i: (i % 10, (i // 10) % 5))


def dedup_video_phash(media_df: DataFrame, id_col: str = "doc_id",
                      n_frames: int = 2) -> DataFrame:
    """VIDEO-level perceptual dedup — the video cell of the multimodal
    dedup matrix: walk each ISO BMFF sample table, decode the first
    ``n_frames`` Motion-JPEG frames, pHash each, and cluster on the
    combined (XOR-folded) hash; the same footage at different uniform
    brightness collapses (pHash discards DC). One shuffle of 8-byte
    hashes; video bytes never shuffle. Corrupt/opaque-codec payloads
    degrade per-row (null hash)."""

    def rows_of(b):
        if not b:  # NULL media: bytes(None) is TypeError, not ValueError
            return [(None, "vphash-v1-empty")]
        try:
            out = extract_video_samples(bytes(b), max_samples=n_frames)
            if out["format"] != "jpeg" or not out["samples"]:
                raise ValueError("no decodable MJPEG frames")
            h = 0
            for k, s in enumerate(out["samples"]):
                # rotate per frame so reordered frames differ;
                # k mod 63 keeps the 63-bit rotation legal for
                # any n_frames (63-k would go negative at k=64)
                r = k % 63
                fh = phash64(decode_jpeg(s)["pixels"])
                h ^= ((fh << r) | (fh >> (63 - r))) & ((1 << 63) - 1)
        except ValueError:
            return [(None, "vphash-v1-invalid")]
        return [(h, "vphash-v1")]

    hashes = _extract(media_df, id_col, rows_of,
                      "doc_id long, vphash long, decoder string")
    return _hash_clusters(hashes, "vphash", id_col)


def synth_image_patterns(docs: DataFrame, id_col: str) -> DataFrame:
    """Texture-image fixtures for the pHash oracle: 32×32 gray PPMs of
    seeded white noise, texture key (a, b) = (1 + id % 13,
    1 + (id ÷ 13) % 5) — ids sharing (a, b) get byte-identical images
    (equal pHash guaranteed), while distinct noise textures land ≥18
    Hamming bits apart (measured over all 65; structured gradients
    would NOT do here — pHash is contrast-invariant, so proportional
    patterns correctly collide). The cluster key is pure id arithmetic
    the SQL oracle recomputes without ever touching pixels."""

    def payload(i):
        a, b = 1 + i % 13, 1 + (i // 13) % 5
        g = np.random.default_rng(a * 1000 + b).integers(0, 256, (32, 32), dtype=np.uint8)
        return MC.encode_ppm(g[:, :, None])

    return _synth(docs, id_col, payload, memo_key=lambda i: (i % 13, (i // 13) % 5))


def synth_gif(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL GIF payloads deterministically: gray gradient
    pixel(y, x) = (x + y + id) % 256 over a 256-wide row (every row
    spans all 256 residues → decoded mean EXACTLY 127.5 — GIF is
    lossless so no flat-block restriction applies), height 2 + id % 3,
    odd ids interlaced so both raster paths decode under the oracle."""
    return _synth(
        docs, id_col,
        lambda i: encode_gif(np.repeat(_gradient(i, 2 + i % 3), 3, axis=2),
                             interlace=bool(i % 2)),
        memo_key=lambda i: (i % 256, i % 3, i % 2),
    )


def synth_gif_animated(docs: DataFrame, id_col: str,
                       n_frames: int = 3) -> DataFrame:
    """Animated-GIF fixtures: ``n_frames`` flat gray frames, frame k's
    value = (id + 37·k) % 256 — GIF is lossless so each composited
    frame's mean is exactly that value (arithmetic oracle per frame)."""
    return _synth(
        docs, id_col,
        lambda i: encode_gif_animated(
            [np.full((8, 16, 3), (i + 37 * k) % 256, np.uint8) for k in range(n_frames)]
        ),
        memo_key=lambda i: i % 256,
    )


def sample_gif_frames(media_df: DataFrame, max_frames: int = 4,
                      id_col: str = "doc_id") -> DataFrame:
    """REAL animated-GIF frame decode, per-frame fan-out (the GIF
    sibling of ``sample_video_frames``): composite each of the first
    ``max_frames`` frames honoring GCE transparency/disposal
    (operators/gif.py) and emit its dimensions and mean pixel. Corrupt
    payloads degrade per-row to a single tagged row, never per-task.
    mapInPandas, zero shuffle, row-expanding UDTF shape."""

    def rows_of(payload):
        if payload is None:
            return []
        try:
            d = decode_gif_frames(payload, max_frames=max_frames)
        except ValueError:
            return [(0, 0, 0, -1.0, "gif-anim-v1-corrupt")]
        return [(k, d["width"], d["height"], float(fr.mean()), "gif-anim-v1")
                for k, fr in enumerate(d["frames"])]

    return _extract(media_df, id_col, rows_of, FRAME_DECODE_SCHEMA)


def synth_png(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL PNG payloads deterministically: pixel(y, x) =
    (x + y + id) % 256 over a 256-wide gradient, height = 2 + id % 3.
    Every row spans all 256 residues, so the decoded mean is EXACTLY
    127.5 for every image — arithmetic oracle — while the gradient
    content (unlike a flat fill) makes the Sub/Up filter pipeline and
    the inflate+unfilter decode carry real information: any unfilter
    or palette bug shifts the mean."""
    return _synth(docs, id_col, lambda i: encode_png(_gradient(i, 2 + i % 3)))


def synth_bmp(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL BMP payloads deterministically: the same
    (x + y + id) % 256 gradient as synth_png, written as an 8-bit
    paletted bottom-up BMP with 4-byte row padding. Every row spans
    all 256 residues, so the decoded mean is EXACTLY 127.5 per image —
    an arithmetic oracle that any palette, stride-padding, or row-order
    bug shifts (bottom-up flip errors change WHICH rows hold which
    values, caught because height varies with id)."""
    return _synth(docs, id_col, lambda i: encode_bmp(_gradient(i, 2 + i % 3)))


def extract_image_meta(media_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode each image payload for real (PPM, baseline JPEG — full
    entropy decode + IDCT, operators/jpeg.py — or PNG — inflate +
    unfilter, operators/png.py) and emit its parsed metadata plus the
    decoded mean pixel value. Raises on other payloads: this operator
    IS the image-decode proof, silent fallback would defeat it."""

    def rows_of(b):
        d, _, tag = _decode_image(b)
        return [(d["width"], d["height"], d["channels"], float(d["pixels"].mean()), tag)]

    return _extract(media_df, id_col, rows_of, IMAGE_META_SCHEMA)


def extract_features(media_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode + featurize each media payload via mapInPandas: Arrow batches
    in, feature rows out. One Python worker per partition, zero
    shuffle. WAV/PPM payloads decode for real; see ``_decode``."""

    def rows_of(b):
        f = _decode(b)
        return [(f["n_bytes"], f["fake_mean"], f["fake_first"], f["decoder"])]

    return _extract(media_df, id_col, rows_of, FEATURE_SCHEMA)


FRAME_DECODE_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, mean_pixel double, "
    "decoder string"
)


def synth_mjpeg_mp4(docs: DataFrame, id_col: str) -> DataFrame:
    """Manufacture REAL Motion-JPEG MP4 payloads deterministically:
    1 + id % 4 flat-gray 16×8 baseline-JPEG frames per file, frame k's
    value = (id * 31 + 17 * k) % 256. With all-ones quantization each
    flat frame decodes bit-exactly, so the full container walk →
    sample extraction → T.81 decode chain has an arithmetic SQL
    oracle."""
    # all frames are flat 16×8 grays: at most 256 distinct coded frames
    # exist, so each worker memoizes the encoder per FRAME (its own copy
    # of this dict arrives with the task). Payloads are not memoized:
    # the container write is cheap, and a per-payload memo keyed on
    # id % 256 encodes more frames.
    frames: dict[int, bytes] = {}

    def frame(v: int) -> bytes:
        if v not in frames:
            frames[v] = encode_jpeg(np.full((8, 16, 1), v, dtype=np.uint8))
        return frames[v]

    return _synth(docs, id_col, lambda i: encode_mjpeg_mp4(
        [frame((i * 31 + 17 * k) % 256) for k in range(1 + i % 4)], width=16, height=8
    ))


def sample_video_frames(media_df: DataFrame, max_frames: int = 4,
                        id_col: str = "doc_id") -> DataFrame:
    """REAL video frame decode, per-frame fan-out: walk each ISO BMFF
    payload's sample table (operators/mp4.py — stsd/stsz/stsc/stco),
    pull up to ``max_frames`` coded samples, and for Motion-JPEG
    tracks decode each frame with the in-repo T.81 baseline decoder,
    emitting its true dimensions and mean pixel (tag
    ``mp4-mjpeg-v1``). Samples in any other coded format (avc1, hevc —
    no codecs for those exist in this environment) emit container-true
    frame rows with width/height from the track header and NaN-free
    stub stats (tag ``mp4-opaque-<fourcc>``), so a mixed corpus
    degrades per-row, never per-task. Raises ValueError only for
    payloads that are not BMFF at all — this operator is the
    video-decode proof, silent whole-payload fallback would defeat it.

    mapInPandas, zero shuffle; one payload row fans out to ≤max_frames
    frame rows (the row-expanding UDTF shape)."""

    def frame_row(out, k, sample):
        if out["format"] != "jpeg":
            # container-true dims from the track header;
            # the bitstream itself stays opaque (no codec)
            return k, out["width"], out["height"], -1.0, f"mp4-opaque-{out['format']}"
        try:
            d = decode_jpeg(sample)
        except ValueError:
            return k, 0, 0, -1.0, "mp4-mjpeg-v1-corrupt"
        return k, d["width"], d["height"], float(d["pixels"].mean()), "mp4-mjpeg-v1"

    def rows_of(payload):
        if payload is None:
            return []
        out = extract_video_samples(payload, max_samples=max_frames)
        return [frame_row(out, k, s) for k, s in enumerate(out["samples"])]

    return _extract(media_df, id_col, rows_of, FRAME_DECODE_SCHEMA)
