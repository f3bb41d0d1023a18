"""Image payload functions: decode, phash, PSNR — Arrow-vectorized.

The input table carries opaque `bytes` with typed metadata (w, h, fmt)
per BASELINE input_hint. Supported codecs, all stdlib+numpy (the sandbox
has no PIL/libjpeg): 'raw' (w*h*3 uint8 RGB), 'zlib' (zlib-compressed
raw), 'png' (functions/png.py) and 'jpeg' (functions/jpeg.py, baseline
sequential). mp3/mp4/webp raise NotImplementedError — honest seams; the
Spark-side plumbing (schema, batch shape, UDF signatures) carries over
unchanged when a native decoder is plugged into `decode_image`.

Per-row invariant (input_hint): decoded-pixel allclose for lossless
round-trips (PSNR = inf), PSNR >= 40 dB for lossy recodes; caption
equality is a plain string compare.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from ..sources.datagen import phash64


def decode_image(payload: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        raw = payload
    elif fmt == "zlib":
        raw = zlib.decompress(payload)
    elif fmt == "png":
        # real container decode (functions/png.py: stdlib zlib + numpy
        # unfiltering incl. Paeth); metadata columns must agree with the
        # container header — a mismatch is corrupt input, not a resize
        from .png import decode_png

        px = decode_png(payload)
        if px.shape[:2] != (h, w):
            raise ValueError(
                f"PNG header says {px.shape[1]}x{px.shape[0]} but metadata "
                f"says {w}x{h}"
            )
        return px
    elif fmt == "jpeg":
        # real baseline-sequential decode (functions/jpeg.py: stdlib +
        # numpy Huffman/IDCT; production seam swaps in libjpeg-turbo
        # behind this same dispatch). Metadata must agree with the SOF0
        # header — a mismatch is corrupt input, not a resize.
        from .jpeg import decode_jpeg

        px = decode_jpeg(payload)
        if px.shape[:2] != (h, w):
            raise ValueError(
                f"JPEG header says {px.shape[1]}x{px.shape[0]} but metadata "
                f"says {w}x{h}"
            )
        return px
    else:
        raise NotImplementedError(
            f"codec {fmt!r} not available in-sandbox (no PIL/libav); "
            "plumbing supports it — plug a decoder into decode_image"
        )
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash_udf():
    """Recompute the 64-bit perceptual hash from bytes (vectorized batch)."""

    @F.pandas_udf(LongType())
    def f(payload: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = np.empty(len(payload), dtype=np.int64)
        for i in range(len(payload)):
            px = decode_image(payload.iloc[i], fmt.iloc[i], int(w.iloc[i]), int(h.iloc[i]))
            out[i] = phash64(px)
        return pd.Series(out)

    return f


def psnr_vs_recode_udf():
    """PSNR of decode -> zlib recode -> decode (lossless path => inf;
    reported as 999.0 so the column stays a plain double)."""

    @F.pandas_udf(DoubleType())
    def f(payload: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = np.empty(len(payload), dtype=np.float64)
        for i in range(len(payload)):
            px = decode_image(payload.iloc[i], fmt.iloc[i], int(w.iloc[i]), int(h.iloc[i]))
            rt = decode_image(zlib.compress(px.tobytes(), 1), "zlib", int(w.iloc[i]), int(h.iloc[i]))
            v = psnr(px, rt)
            out[i] = 999.0 if v == float("inf") else v
        return pd.Series(out)

    return f


def psnr_vs_lossy_recode_udf(quant_bits: int = 6):
    """PSNR of decode -> QUANTIZED png recode -> decode: the input_hint
    lossy-path gate (PSNR >= 40 dB). Quantizing to `quant_bits` bits per
    channel before the (lossless) PNG container makes the recode lossy
    the way a real jpeg step is, with a bounded, codec-free error:
    6 bits => uniform error in [-2, 2) => PSNR ~ 46-49 dB."""
    from .png import decode_png, encode_png

    shift = 8 - quant_bits

    @F.pandas_udf(DoubleType())
    def f(payload: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = np.empty(len(payload), dtype=np.float64)
        for i, (pl, fm, wi, hi) in enumerate(zip(payload, fmt, w, h)):
            px = decode_image(pl, fm, int(wi), int(hi))
            q = ((px >> shift) << shift) | (1 << (shift - 1) if shift else 0)
            rt = decode_png(encode_png(q.astype(np.uint8), level=1))
            v = psnr(px, rt)
            out[i] = 999.0 if v == float("inf") else v
        return pd.Series(out)

    return f


def psnr_vs_source_udf(seed: int, min_px: int = 16, max_px: int = 64):
    """PSNR of the decoded payload against the REGENERATED source pixels
    (sources/datagen._gen_pixels, seeded per row id) — the input_hint's
    decoded-pixel invariant for lossy codecs: lossless fmts are exact
    (reported 999.0), jpeg must clear 40 dB. Only meaningful on tables
    produced by generate_images with the same (seed, min_px, max_px)."""
    from ..sources.datagen import _gen_pixels

    @F.pandas_udf(DoubleType())
    def f(image_id: pd.Series, payload: pd.Series, fmt: pd.Series,
          w: pd.Series, h: pd.Series) -> pd.Series:
        out = np.empty(len(payload), dtype=np.float64)
        for i, (iid, pl, fm, wi, hi) in enumerate(zip(image_id, payload, fmt, w, h)):
            rid = int(iid.split("-")[-1])
            rng = np.random.Generator(np.random.PCG64(seed + rid))
            src = _gen_pixels(rng, min_px, max_px)
            dec = decode_image(pl, fm, int(wi), int(hi))
            v = psnr(src, dec)
            out[i] = 999.0 if v == float("inf") else v
        return pd.Series(out)

    return f


def with_payload_checks(images: DataFrame) -> DataFrame:
    """Attach phash_recomputed, phash_match, psnr_db invariant columns."""
    ph = phash_udf()
    ps = psnr_vs_recode_udf()
    return images.withColumns(
        {
            "phash_recomputed": ph("bytes", "fmt", "w", "h"),
            "psnr_db": ps("bytes", "fmt", "w", "h"),
        }
    ).withColumn("phash_match", F.col("phash_recomputed") == F.col("phash"))


def image_pixel_stats(
    images: DataFrame,
    passthrough: tuple[str, ...] = (),
    fmt: str | None = None,
) -> DataFrame:
    """Integer-exact per-image pixel statistics through the real decode
    path — the image analog of functions/audio.audio_features' oracle
    trick: every output is integer arithmetic over the decoded bytes
    (sum, position-weighted sum, extrema, per-channel sums), so when the
    pixels are closed-form in the key (sources/datagen.synth_png_images)
    a SQL oracle re-derives the whole row and the driver can FULL
    value-hash a codec pipeline DuckDB cannot itself decode.

    Zero-shuffle mapInPandas: at 10^12 images the payload bytes never
    move, only the ~9-column stat rows do. `passthrough` columns (e.g.
    a pyramid `level`) ride along; `fmt` overrides a missing fmt column
    (raw pyramid payloads)."""
    import pandas as _pd

    cols = ["image_id", *passthrough, "bytes", "w", "h"]
    src = images.select(*cols, *(() if fmt else ("fmt",)))
    fixed_fmt = fmt

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {c: [] for c in ("image_id", *passthrough, "w", "h")}
            stats = {
                k: []
                for k in (
                    "n_px", "sum_px", "min_px", "max_px", "wsum_px",
                    "sum_r", "sum_g", "sum_b",
                )
            }
            for idx in range(len(b)):
                w, h = int(b["w"].iloc[idx]), int(b["h"].iloc[idx])
                f = fixed_fmt or b["fmt"].iloc[idx]
                px = decode_image(b["bytes"].iloc[idx], f, w, h)
                v = px.reshape(-1).astype(np.int64)
                out["image_id"].append(b["image_id"].iloc[idx])
                for p in passthrough:
                    out[p].append(b[p].iloc[idx])
                out["w"].append(w)
                out["h"].append(h)
                stats["n_px"].append(v.size)
                stats["sum_px"].append(int(v.sum()))
                stats["min_px"].append(int(v.min()))
                stats["max_px"].append(int(v.max()))
                # position-weighted: permutation/stride bugs that keep
                # the multiset of bytes intact still break this
                stats["wsum_px"].append(int(((np.arange(v.size) + 1) * v).sum()))
                stats["sum_r"].append(int(v[0::3].sum()))
                stats["sum_g"].append(int(v[1::3].sum()))
                stats["sum_b"].append(int(v[2::3].sum()))
            yield _pd.DataFrame({**out, **stats})

    dtypes = dict(images.dtypes)
    pass_schema = "".join(
        f"{p} {dtypes[p].upper()}, " for p in passthrough
    )
    schema = (
        f"image_id {dtypes['image_id'].upper()}, {pass_schema}w INT, h INT, "
        "n_px BIGINT, sum_px BIGINT, min_px INT, max_px INT, wsum_px BIGINT, "
        "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT"
    )
    return src.mapInPandas(run, schema)
