"""Perceptual checks of the image codecs through a test-side dHash.

`decode_image_bytes` must give the same picture for PNG, BMP, HDR and EXR
payloads of one image, and a picture close to it for a lossy progressive
JPEG. A 64-bit difference hash (grayscale, area-mean resize to 9x8, sign of
the horizontal gradient) compares them; its separation of unrelated images
is checked too, so that an agreement of hashes means something.
"""

import numpy as np

from img2table_spark.kernels.encoders import (
    encode_bmp24,
    encode_jpeg_progressive,
    encode_png,
)
from img2table_spark.kernels.exr import encode_exr
from img2table_spark.kernels.hdr import encode_hdr
from img2table_spark.kernels.image_doc import decode_image_bytes

_LUMA = np.array([0.299, 0.587, 0.114])


def dhash64(img):
    g = img.astype(np.float64) @ _LUMA
    h, w = g.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 10).astype(int)
    grid = np.array(
        [[g[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean() for j in range(9)] for i in range(8)]
    )
    v = 0
    for b in (grid[:, 1:] > grid[:, :-1]).flatten():
        v = (v << 1) | int(b)
    return v


def hamming64(a, b):
    return bin(a ^ b).count("1")


def _img(seed, h=64, w=96):
    rng = np.random.RandomState(seed)
    # smooth random field: block noise upsampled, so gradients are stable
    small = rng.randint(0, 256, size=(h // 8, w // 8, 3))
    return np.repeat(np.repeat(small, 8, axis=0), 8, axis=1).astype(np.uint8)


def test_dhash_invariant_across_codecs():
    img = _img(1)
    base = dhash64(img)
    for enc in (encode_png, encode_bmp24, encode_hdr, encode_exr):
        assert hamming64(dhash64(decode_image_bytes(enc(img))), base) == 0, enc


def test_dhash_robust_to_lossy_and_scale():
    img = _img(2)
    lossy = decode_image_bytes(encode_jpeg_progressive(img, qval=2))
    assert hamming64(dhash64(lossy), dhash64(img)) <= 6
    # 2x downscale (area mean) keeps the fingerprint
    half = img.reshape(32, 2, 48, 2, 3).mean(axis=(1, 3)).astype(np.uint8)
    assert hamming64(dhash64(half), dhash64(img)) <= 6


def test_dhash_separates_unrelated_images():
    assert hamming64(dhash64(_img(3)), dhash64(_img(4))) > 10
