"""Multimodal (image) column operators: verify, features, resize, sampling.

The image `bytes` column is opaque binary with typed metadata (w, h, fmt).
Decode-touching work runs row by row through rowmap.map_rows, so each
task streams Arrow record batches instead of materializing whole
partitions (rows are MB-scale; session config caps maxRecordsPerBatch
accordingly). Decoders: the pure-numpy PNG and baseline JPEG codecs in
images/ and the MJPEG AVI codec in video/; a row any of them rejects
with ValueError is quarantined, never a failed task.

verify_images is the per-row invariant stage (FIXTURES.md B3): decoded
pixels must exist, match the (w, h) metadata, and PSNR vs a reference
decode must clear 40 dB for lossy formats (infinite for lossless).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame

from ..images import decode_image, psnr
from ..images.codecs import encode_image
from ..sources.synth import LOSSY_QUALITY
from ..video.avi import decode_avi_mjpeg
from .export_prep import DEFAULT_BUCKETS
from .rowmap import map_rows

FRAME_STRIDE = 2  # sample_video_frames keeps every 2nd frame
REHOST_QUALITY = 90  # JPEG quality of the re-hosted copies
# export resize targets: the SDXL buckets at 1/16 scale (ratio-driven,
# and the synthetic inputs are thumbnails)
RESIZE_BUCKETS: tuple = tuple((w // 16, h // 16) for w, h in DEFAULT_BUCKETS)

VERIFY_SCHEMA = (
    "image_id string, decode_ok boolean, dims_ok boolean, "
    "px_mean double, reencode_psnr double"
)

FEATURE_SCHEMA = (
    "image_id string, mean_r double, mean_g double, mean_b double, "
    "std_gray double, thumb array<int>"
)


def verify_images(df: DataFrame) -> DataFrame:
    """Decode every image; emit per-row verification facts.

    reencode_psnr: decode → re-encode with the same codec → decode again,
    PSNR between the two decodes. Lossless formats give +inf (reported as
    NaN-safe large sentinel 999.0); lossy formats must stay >= 40 dB.
    """

    def _verify(image_id, data, w, h, fmt):
        ok = dims = False
        mean = q = float("nan")
        try:
            px = decode_image(bytes(data))
            ok = True
            dims = px.shape[0] == h and px.shape[1] == w
            mean = float(px.mean())
            second = decode_image(encode_image(px, fmt, quality=LOSSY_QUALITY))
            p = psnr(px, second)
            q = 999.0 if math.isinf(p) else p
        except ValueError:
            pass
        yield image_id, ok, dims, mean, q

    return map_rows(
        df, ["image_id", "bytes", "w", "h", "fmt"], VERIFY_SCHEMA, _verify
    )


def image_features(df: DataFrame) -> DataFrame:
    """Deterministic feature extraction: channel means, gray std, and a
    nearest-neighbor thumbnail (flattened gray 8 x 8).
    This is the feature/resize plumbing a real CLIP/embedding stage would
    occupy; the features themselves are deterministic stand-ins."""

    def _feat(image_id, data):
        try:
            px = decode_image(bytes(data)).astype(np.float64)
        except ValueError:
            yield image_id, None, None, None, None, None
            return
        gray = px.mean(axis=2)
        h, w = gray.shape
        yi = np.linspace(0, h - 1, 8).round().astype(int)
        xi = np.linspace(0, w - 1, 8).round().astype(int)
        yield (
            image_id,
            float(px[:, :, 0].mean()),
            float(px[:, :, 1].mean()),
            float(px[:, :, 2].mean()),
            float(gray.std()),
            gray[np.ix_(yi, xi)].round().astype(int).ravel().tolist(),
        )

    return map_rows(df, ["image_id", "bytes"], FEATURE_SCHEMA, _feat)


FRAME_SCHEMA = (
    "video_id string, frame_idx int, frame_w int, frame_h int, "
    "frame_gray_mean double, frame_bytes binary"
)


def sample_video_frames(df: DataFrame) -> DataFrame:
    """Every-FRAME_STRIDE-th-frame sampling over a video `bytes` column of
    MJPEG AVI clips (video/avi.py).

    A row-mapping fan-out (one input row → many frame rows), Arrow-
    batched, column-pruned to (image_id, bytes). Clips the codec rejects
    (non-AVI bytes included) yield no frames. Frames are re-encoded as
    PNG bytes so the output column is storable/chainable into image
    operators.
    """

    def _sample(image_id, data):
        try:
            _, frames = decode_avi_mjpeg(bytes(data))
        except ValueError:
            return
        for idx, px in enumerate(frames):
            if idx % FRAME_STRIDE == 0:
                yield (
                    image_id, idx, px.shape[1], px.shape[0],
                    float(px.mean()), encode_image(px, "png"),
                )

    return map_rows(df, ["image_id", "bytes"], FRAME_SCHEMA, _sample)


def compute_phash(df: DataFrame) -> DataFrame:
    """(image_id, pixel_phash) — DCT pHash computed FROM decoded pixel content
    (images/phash.py), one Arrow pass; the MB-scale bytes column never
    shuffles. Decode failures yield NULL. Feeding these hashes to
    dedup.hamming_near_pairs turns phash near-dup into CONTENT near-dup
    (robust to re-encodes — see q_pixel_phash_pairs)."""
    from ..images.phash import phash64

    def _hash(image_id, data):
        try:
            ph = phash64(decode_image(bytes(data)))
        except ValueError:
            ph = None
        yield image_id, ph

    return map_rows(
        df, ["image_id", "bytes"], "image_id string, pixel_phash long", _hash
    )


def reencode_variants(df: DataFrame) -> DataFrame:
    """Lossy re-encodes of each image (decode -> jpeg at REHOST_QUALITY) with
    "_re"-suffixed ids — the deterministic stand-in for the re-crawled /
    re-hosted copies a web corpus contains. Undecodable rows get no
    variant."""

    def _re(image_id, data):
        try:
            out = encode_image(decode_image(bytes(data)), "jpeg", quality=REHOST_QUALITY)
        except ValueError:
            return
        yield image_id + "_re", out

    return map_rows(df, ["image_id", "bytes"], "image_id string, bytes binary", _re)


def resize_export_row(data: bytes) -> tuple:
    """Pure per-image export resize: decode -> pick the RESIZE_BUCKETS entry
    minimizing |log(w/h) - log(bw/bh)| in integer micro-log units
    (EXACTLY export_prep's Catalyst argmin, ties to the lowest index) ->
    exact area-average resample to (bh, bw) -> re-encode through the
    real baseline-JPEG codec. Returns (bucket_w, bucket_h, out_len,
    out_md5, out_bytes). Shared by the Spark stage and the fixture
    oracle."""
    import hashlib

    from ..images.jpeg_codec import encode_jpeg
    from ..images.phash import area_resize_rgb
    from .export_prep import _log_aspect_micro

    buckets = RESIZE_BUCKETS
    px = decode_image(bytes(data))
    h, w = px.shape[0], px.shape[1]
    la = _log_aspect_micro(float(w), float(h))
    best = min(
        range(len(buckets)),
        key=lambda i: (abs(la - _log_aspect_micro(*map(float, buckets[i]))), i),
    )
    bw, bh = buckets[best]
    out = area_resize_rgb(px, bh, bw)
    jb = encode_jpeg(out, quality=LOSSY_QUALITY)
    return bw, bh, len(jb), hashlib.md5(jb).hexdigest(), jb


def resize_to_buckets(df: DataFrame) -> DataFrame:
    """Training-export resize: every image decoded, area-resampled to its
    SDXL-style aspect bucket, re-encoded as baseline JPEG — ONE Arrow
    pass, bytes never shuffle. Emits scalar facts (len + md5) so the
    driver query stays cheap to hash-check."""

    def _resize(image_id, data):
        try:
            facts = resize_export_row(data)
        except ValueError:
            # quarantine undecodable rows (null facts) instead of
            # failing the whole export task deterministically
            facts = (None,) * 5
        yield (image_id, *facts[:4])

    schema = (
        "image_id string, bucket_w int, bucket_h int, "
        "out_len long, out_md5 string"
    )
    return map_rows(df, ["image_id", "bytes"], schema, _resize)


def video_middle_frame_phash(df: DataFrame) -> DataFrame:
    """(video_id, n_frames, mid_phash): perceptual hash of each clip's MIDDLE
    frame — the cheap video near-dup key (a re-encoded/re-hosted copy of
    a clip keeps its middle frame perceptually identical). One Arrow
    pass: decode MJPEG AVI (video/avi.py), pHash the frame
    (images/phash.py); bytes never shuffle. Feeds the shared banded
    hamming operator, completing near-dup coverage across text, image,
    audio and video with ONE pairing implementation."""
    from ..images.phash import phash64

    def _fp(video_id, data):
        try:
            _, frames = decode_avi_mjpeg(bytes(data))
            fp = (len(frames), phash64(frames[len(frames) // 2]))
        except ValueError:
            # quarantine, same semantics as compute_phash: the null hash
            # drops out of the near-dup pairing
            fp = (None, None)
        yield (video_id, *fp)

    return map_rows(
        df, ["video_id", "bytes"], "video_id string, n_frames int, mid_phash long", _fp
    )
