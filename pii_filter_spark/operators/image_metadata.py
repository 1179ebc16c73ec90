"""Image-metadata PII scrub stage (pii-filter semantics applied to the
bytes column, not just the caption).

PNG ancillary chunks routinely carry PII — Author/Copyright tEXt, XMP
packets, EXIF camera serials and GPS, timestamps. This stage extracts
that text (images/metadata.py), runs the SAME precedence-resolved
detection stack the caption scrub uses (core/detect.detect_all — regex
+ checksum validation + dictionary NER + toxicity; semantics from
/root/reference/src/core/pii_detector.py), and rewrites the file with
only pixel-bearing chunks. Decoded pixels are bit-identical afterwards
(lossless container rewrite — the north rule's PSNR>=40dB invariant
holds trivially at inf).

Scale shape (100 TB): ONE row-mapping pass (rowmap.map_rows) — bytes
stream through Arrow record batches, never enter a shuffle, and the
output projects small scalar facts.
Chunk walking is a linear scan of the byte string; non-PNG rows (JPEG
at 10^12-scale would use the same seam with a TIFF/EXIF segment walker)
pass through untouched and flagged, never erroring the batch.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from ..core.detect import detect_all
from ..core.toxicity import TOXIC_TYPE
from ..images.metadata import (
    add_text_chunk,
    count_ancillary,
    extract_text_metadata,
    is_png,
    strip_ancillary,
)
from .rowmap import map_rows

META_SCHEMA = (
    "image_id string, is_png boolean, meta_chunks int, meta_fields int, "
    "meta_pii int, meta_toxic int, bytes_removed long, clean_md5 string"
)


def scrub_row(data: bytes):
    """Pure per-image scrub: (is_png, ancillary-chunk count, text-field
    count, pii span count, toxic span count, bytes removed, md5 of the
    cleaned file). Shared verbatim by the Spark stage and the DuckDB
    fixture oracle so the hash check re-derives every value."""
    png = is_png(data)
    fields = extract_text_metadata(data)
    pii = toxic = 0
    for _, text in fields:
        for d in detect_all(text, with_sensitive=False):
            if d["type"] == TOXIC_TYPE:
                toxic += 1
            else:
                pii += 1
    clean = strip_ancillary(data)
    return (
        png,
        count_ancillary(data),
        len(fields),
        pii,
        toxic,
        len(data) - len(clean),
        hashlib.md5(clean).hexdigest(),
    )


# Well-known VALID-checksum example CPF (public algorithm test vector) —
# must survive the checksum-validation stage, unlike a made-up number.
_FIXTURE_CPF = "529.982.247-25"


def inject_fixture_metadata(data: bytes, idx: int) -> bytes:
    """Deterministic per-index metadata injection for tests/fixtures:
    idx%4==0 email+phone tEXt, 1 CPF+toxic tEXt, 2 two clean chunks,
    3 untouched. Non-PNG rows pass through (exercises the passthrough
    path). Shared by the driver query and its DuckDB fixture oracle."""
    if not is_png(data):
        return data
    v = idx % 4
    if v == 0:
        return add_text_chunk(
            data, "Author",
            f"Contato: user{idx}@example.com tel (11) 91234-5678",
        )
    if v == 1:
        return add_text_chunk(
            data, "Comment", f"dono CPF {_FIXTURE_CPF}, esse palhaço"
        )
    if v == 2:
        return add_text_chunk(
            add_text_chunk(data, "Software", "cam-fw 9.1"),
            "Copyright", f"(c) 2024 Studio {idx}",
        )
    return data


def scrub_image_metadata(df: DataFrame) -> DataFrame:
    """Per-image metadata scrub facts (see scrub_row). Projects the two
    needed columns (image_id, bytes) before the Arrow exchange so
    MB-scale rows outside them are pruned at the scan."""

    def _scrub(image_id, data):
        yield (image_id, *scrub_row(bytes(data)))

    return map_rows(df, ["image_id", "bytes"], META_SCHEMA, _scrub)


# ---------------------------------------------------------------------------
# JPEG container twin (images/jpeg_metadata.py): EXIF/COM extraction, GPS
# detection, lossless APP1/APP13/COM strip. Same one-pass row-mapping
# shape as the PNG stage; decode never happens (the strip is a marker-
# level rewrite that leaves the entropy-coded scan byte-identical).
# ---------------------------------------------------------------------------

JPEG_META_SCHEMA = (
    "image_id string, is_jpeg boolean, meta_segments int, meta_fields int, "
    "meta_pii int, meta_toxic int, has_gps boolean, bytes_removed long, "
    "clean_md5 string"
)


def scrub_jpeg_row(data: bytes):
    """Pure per-image JPEG scrub facts: (is_jpeg, strip-eligible segment
    count, text-field count, pii span count, toxic span count, GPS
    sub-IFD present, bytes removed, md5 of the stripped file). Shared
    verbatim by the Spark stage and the DuckDB fixture oracle."""
    from ..images.jpeg_metadata import (
        count_meta_segments,
        extract_jpeg_text_metadata,
        has_gps,
        is_jpeg,
        strip_jpeg_metadata,
    )

    jp = is_jpeg(data)
    fields = extract_jpeg_text_metadata(data)
    pii = toxic = 0
    for _, text in fields:
        for d in detect_all(text, with_sensitive=False):
            if d["type"] == TOXIC_TYPE:
                toxic += 1
            else:
                pii += 1
    clean = strip_jpeg_metadata(data)
    return (
        jp,
        count_meta_segments(data),
        len(fields),
        pii,
        toxic,
        has_gps(data),
        len(data) - len(clean),
        hashlib.md5(clean).hexdigest(),
    )


def scrub_jpeg_metadata(df: DataFrame) -> DataFrame:
    """Per-image JPEG EXIF/COM scrub facts of (image_id, bytes) rows (see
    scrub_jpeg_row): ONE Arrow pass, bytes never shuffle, non-JPEG rows
    pass through flagged."""

    def _scrub(image_id, data):
        yield (image_id, *scrub_jpeg_row(bytes(data)))

    return map_rows(df, ["image_id", "bytes"], JPEG_META_SCHEMA, _scrub)


def inject_jpeg_fixture_metadata(data: bytes, idx: int) -> bytes:
    """Deterministic per-index EXIF/COM injection (JPEG twin of
    inject_fixture_metadata): idx%5==0 Artist-email EXIF + GPS, 1 COM
    with CPF + toxic word, 2 clean camera EXIF, 3 COM + Copyright EXIF,
    4 untouched. Non-JPEG rows pass through (passthrough path under
    test). Shared by the driver query and its DuckDB fixture oracle."""
    from ..images.jpeg_metadata import add_comment, build_exif_app1, is_jpeg

    if not is_jpeg(data):
        return data
    v = idx % 5
    if v == 0:
        app1 = build_exif_app1(
            {"Artist": f"Maria Souza user{idx}@example.com"},
            gps=(-23.5505, -46.6333),
        )
        return data[:2] + app1 + data[2:]
    if v == 1:
        return add_comment(
            data, f"dono CPF {_FIXTURE_CPF}, esse palhaço"
        )
    if v == 2:
        app1 = build_exif_app1(
            {"Make": "ACME", "Model": f"CamPro {idx % 9}",
             "Software": "fw 2.3.1", "DateTime": "2024:01:15 10:30:00"}
        )
        return data[:2] + app1 + data[2:]
    if v == 3:
        app1 = build_exif_app1({"Copyright": f"(c) 2024 Studio {idx}"})
        return add_comment(
            data[:2] + app1 + data[2:], f"shoot {idx}, tel (11) 91234-5678"
        )
    return data
