"""Pure-numpy image codecs for the binary `bytes` column.

No imaging library is a dependency (no Pillow/libjpeg), so both codecs
are written from their specs and are deterministic across environments:
  * PNG (lossless) — encoder and decoder for 8-bit RGB (png_codec.py);
  * JPEG (lossy) — baseline sequential JFIF encoder and decoder
    (jpeg_codec.py), PSNR >= 40 dB at the fixture quality.
codecs.decode_image dispatches on magic bytes.
"""

from .codecs import decode_image, encode_image, psnr  # noqa: F401
