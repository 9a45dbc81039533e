"""Synthetic image+caption table (FIXTURES.md §1) and the image codec.

The input contract (BASELINE.json ``input_hint``) is an Iceberg/parquet table
``(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long)``.  This module generates it deterministically (seed-fixed, pure
function of the row index) and provides the codec used by the per-row payload
invariant (decoded-pixel allclose, PSNR>=40dB for lossy).

Codec: PIL is not available in this container, so the package ships its own
deterministic codec — "png" rows are zlib-compressed raw RGB (lossless),
"jpeg" rows are step-4 quantized then zlib (lossy, PSNR ~46dB).  If PIL is
importable the real codecs are used instead (same function signatures); the
fake wire format is versioned by magic bytes so both can coexist.

Reference analogue: the opaque block payload + lazy decompress
(/root/reference/src/readpbf.rs:13-72); decode-one-blob operator S11
(src/elements.rs:695-711).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401
    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

SEED = 42
SIZES = np.array([16, 32, 64, 128], dtype=np.int32)
ADJ = ["amber", "bold", "calm", "dusty", "early", "faint", "grand"]
NOUN = ["atlas", "basin", "cliff", "delta", "ridge", "shore", "summit",
        "valley", "meadow", "harbor", "plateau"]

_MAGIC_LOSSLESS = b"FPN1"
_MAGIC_LOSSY = b"FJP1"
_Q = 4  # lossy quantization step -> PSNR ~46dB


def _splitmix64(v: np.ndarray) -> np.ndarray:
    v = (v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    v = (v ^ (v >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    v = (v ^ (v >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return v ^ (v >> np.uint64(31))


def gen_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixel pattern: solid background + arithmetic pattern.
    Pure function of (i, w, h) — vectorized, no per-pixel RNG."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.int64)
    pix = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        base = (i * 61 + c * 97) % 256
        pix[..., c] = ((base + 31 * xx + 17 * yy + ((i >> c) & 7) * xx * yy)
                       % 256).astype(np.uint8)
    return pix


def encode_image_builtin(pixels: np.ndarray, fmt: str) -> bytes:
    """The package's deterministic codec (always available, byte-stable —
    the synthetic FIXTURES corpus is generated with THIS so its bytes
    don't depend on whether PIL is importable)."""
    h, w, _ = pixels.shape
    if fmt == "png":
        return (_MAGIC_LOSSLESS + struct.pack("<HH", w, h)
                + zlib.compress(pixels.tobytes(), 6))
    if fmt == "jpeg":
        q = (pixels.astype(np.uint16) // _Q).astype(np.uint8)
        return (_MAGIC_LOSSY + struct.pack("<HH", w, h)
                + zlib.compress(q.tobytes(), 6))
    raise ValueError(f"unknown fmt {fmt!r}")


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode HxWx3 uint8 pixels. fmt 'png' = lossless, 'jpeg' = lossy.
    Uses PIL when importable (real PNG/JPEG wire formats), else the
    builtin deterministic codec; the formats are distinguished by magic
    bytes so :func:`decode_image` handles a mixed corpus."""
    if HAVE_PIL:
        import io

        buf = io.BytesIO()
        img = Image.fromarray(pixels, mode="RGB")
        if fmt == "png":
            img.save(buf, format="PNG", optimize=False)
        elif fmt == "jpeg":
            img.save(buf, format="JPEG", quality=92)
        else:
            raise ValueError(f"unknown fmt {fmt!r}")
        return buf.getvalue()
    return encode_image_builtin(pixels, fmt)


def decode_image(data: bytes) -> np.ndarray:
    """Decode to HxWx3 uint8 pixels (reference S11 analogue).  Sniffs the
    wire format: the package codec's magics first, then PNG/JPEG via PIL
    when importable."""
    magic = data[:4]
    if magic in (_MAGIC_LOSSLESS, _MAGIC_LOSSY):
        w, h = struct.unpack("<HH", data[4:8])
        raw = zlib.decompress(data[8:])
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
        if magic == _MAGIC_LOSSLESS:
            return arr.copy()
        deq = arr.astype(np.uint16) * _Q + (_Q // 2)
        return np.minimum(deq, 255).astype(np.uint8)
    if HAVE_PIL:
        import io

        return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
    raise ValueError(f"unknown image magic {magic!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10 * np.log10(255.0 ** 2 / mse))


def phash_of(image_id: str) -> int:
    """FIXTURES.md: sha256(image_id).digest()[:8] as signed big-endian i64."""
    return struct.unpack(">q", hashlib.sha256(image_id.encode()).digest()[:8])[0]


def make_images_pdf(lo: int, hi: int, seed: int = SEED,
                    with_bytes: bool = True) -> pd.DataFrame:
    """Rows [lo, hi) of the synthetic images table as pandas."""
    idx = np.arange(lo, hi, dtype=np.int64)
    u = _splitmix64(idx.astype(np.uint64) ^ np.uint64(seed))
    w = SIZES[(u & np.uint64(3)).astype(np.int64)]
    h = SIZES[((u >> np.uint64(2)) & np.uint64(3)).astype(np.int64)]
    fmt = np.where(((u >> np.uint64(4)) % np.uint64(10)) < np.uint64(8),
                   "png", "jpeg")
    ids = [f"img{i:012d}" for i in idx.tolist()]
    captions = [
        f"synthetic image {i} tile test {ADJ[i % 7]} {NOUN[i % 11]}"
        for i in idx.tolist()
    ]
    phash = np.array([phash_of(s) for s in ids], dtype=np.int64)
    data = None
    if with_bytes:
        data = [
            encode_image_builtin(gen_pixels(int(i), int(wi), int(hi_)),
                                 str(f))
            for i, wi, hi_, f in zip(idx, w, h, fmt)
        ]
    return pd.DataFrame({
        "image_id": ids,
        "bytes": data if with_bytes else b"",
        "w": w.astype(np.int32),
        "h": h.astype(np.int32),
        "fmt": fmt,
        "caption": captions,
        "phash": phash,
    })


IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                 "caption string, phash long")


def generate_images(spark, n: int, num_partitions: int = 32,
                    seed: int = SEED, with_bytes: bool = True):
    """Distributed generation: spark.range -> mapInPandas batches.

    At real scale this is how the 10^12-row corpus would be synthesized:
    each partition generates its own index range; no driver materialization.
    """
    # yield in bounded chunks: a 65k-row input batch with image payloads
    # would otherwise serialize as ONE ~600MB Arrow record batch per task
    # (mapInPandas does not re-slice yielded frames), blowing the JVM's
    # direct-memory cap at 16M+ rows x 32 tasks — measured OutOfDirectMemory
    chunk = 8192 if with_bytes else 65536

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            if len(ids) == 0:
                continue
            # ranges from spark.range are contiguous per batch
            lo, hi = int(ids.min()), int(ids.max()) + 1
            for c0 in range(lo, hi, chunk):
                yield make_images_pdf(c0, min(c0 + chunk, hi),
                                      seed=seed, with_bytes=with_bytes)

    return (
        spark.range(0, n, 1, num_partitions)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


# ---------------------------------------------------------------- skew fixture

HOTSPOTS = [(-740_059_700, 407_127_500), (23_405_000, 524_370_000),
            (1_397_639_000, 355_676_000), (-463_330_000, -235_505_000),
            (772_088_000, 285_644_000)]  # fixed centers, FIXTURES.md §1.1


def skewed_lonlat(phash: np.ndarray, seed: int = SEED):
    """sf-skew map: 30% of rows Zipf-clustered around 5 hotspots (sigma=0.1deg),
    70% uniform from phash bits."""
    from osmquadtree_rust_bindings_spark import kernels as K

    lon, lat = K.phash_lonlat(phash)
    u = _splitmix64(np.asarray(phash).astype(np.uint64) ^ np.uint64(seed * 7 + 1))
    is_hot = (u % np.uint64(10)) < np.uint64(3)
    hot_idx = ((u >> np.uint64(8)) % np.uint64(len(HOTSPOTS))).astype(np.int64)
    centers = np.array(HOTSPOTS, dtype=np.int64)
    # deterministic gaussian-ish offset from two more hash draws (sigma 0.1 deg)
    g1 = ((_splitmix64(u) % np.uint64(2_000_001)).astype(np.int64) - 1_000_000)
    g2 = ((_splitmix64(u + np.uint64(1)) % np.uint64(2_000_001)).astype(np.int64)
          - 1_000_000)
    lon_hot = centers[hot_idx, 0] + g1
    lat_hot = centers[hot_idx, 1] + g2
    return (np.where(is_hot, lon_hot, lon).astype(np.int64),
            np.where(is_hot, lat_hot, lat).astype(np.int64))
