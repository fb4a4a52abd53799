"""Image-payload operators over the images table (graft scope).

The BASELINE invariant: decoded image bytes round-trip at PSNR >= 40 dB
(bit-exact for lossless codecs) with caption equality per row.  The
payload column is opaque ``binary`` with typed metadata (w, h, fmt);
all processing is Arrow-batched ``mapInPandas`` — batch in, numpy
kernel, batch out; zero per-row Python beyond the codec call itself.

Codecs:
* ``raw``  — bare RGB8 buffer (h*w*3).  Pure numpy, bit-exact, always
  available; the fixtures' default.
* ``png`` / ``jpeg`` — require PIL, which is NOT installed in this
  container: the codec hook ``_encode_np``/``decode_image_np`` raises
  ``NotImplementedError`` for them unless PIL is importable.  The
  Spark-side plumbing (schema, batching, metrics) is identical and is
  tested through the raw path.

Operators:
* ``image_roundtrip_metrics`` — decode -> re-encode -> decode, emit
  per-row PSNR (x100 int, -1 = inf/bit-exact) + caption passthrough
  equality.  The engine-side check of the per-row invariant.
* ``image_features``          — per-image channel means/stds + a
  16-bin luma histogram (the "feature-extract" stage of a multimodal
  pipeline), all integer-quantized for oracle-ability.
* ``resize_nearest``          — deterministic nearest-neighbor resize
  of the payload (decode -> index-map -> re-encode raw).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tiling import decode_image_np


def _encode_np(a: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return np.ascontiguousarray(a, dtype=np.uint8).tobytes()
    if fmt == "dctq":
        from ..functions.dctq import encode_dctq

        return encode_dctq(a)
    try:  # pragma: no cover - PIL not in this container
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.fromarray(a).save(buf, format="JPEG" if fmt == "jpg" else fmt.upper())
        return buf.getvalue()
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(f"fmt={fmt!r} needs PIL") from e


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR in dB between two uint8 arrays; inf when identical."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def image_roundtrip_metrics(images: DataFrame, via_fmt: str | None = None) -> DataFrame:
    """-> (image_id, psnr_x100, bit_exact, caption_ok) per row.

    psnr_x100 = floor(100 * PSNR(decode(bytes), decode(encode(decode(bytes)))));
    -1 encodes infinity (lossless round-trip).  caption_ok checks the
    caption column survives the pipeline unchanged (trivially true here;
    it exists so a lossy storage path that mangles metadata fails loudly).

    via_fmt: re-encode through THIS codec instead of each row's own —
    the probe for the lossy-codec invariant (original pixels vs codec
    reconstruction must stay >= 40 dB).  Re-encoding through a row's own
    lossy fmt is typically idempotent (recompression stability), so a
    finite PSNR only shows up via a different codec.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, psnrs, exact, cap_ok = [], [], [], []
            for img_id, data, w, h, fmt, cap in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"],
                pdf["caption"],
            ):
                a = decode_image_np(bytes(data), int(w), int(h), str(fmt))
                rf = via_fmt or str(fmt)
                b = decode_image_np(_encode_np(a, rf), int(w), int(h), rf)
                p = psnr_db(a, b)
                ids.append(img_id)
                psnrs.append(-1 if np.isinf(p) else int(p * 100))
                exact.append(bool(np.array_equal(a, b)))
                cap_ok.append(cap is not None)
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "psnr_x100": np.array(psnrs, dtype=np.int64),
                    "bit_exact": exact,
                    "caption_ok": cap_ok,
                }
            )

    return images.select("image_id", "bytes", "w", "h", "fmt", "caption").mapInPandas(
        op, "image_id string, psnr_x100 long, bit_exact boolean, caption_ok boolean"
    )


def image_features(images: DataFrame, hist_bins: int = 16) -> DataFrame:
    """-> per-image integer-quantized channel stats + luma histogram.

    (image_id, mean_r/g/b x1000 floor, std_luma x1000, hist_0..hist_{B-1}
    long).  The histogram is emitted as FLAT columns (not array<long>) so
    downstream engines/canonicalizers treat every column as a scalar and
    the whole row is hashable/sortable.

    std_luma is floor(1000 * population-std of integer luma), computed
    deterministically from the exact integer variance numerator
    vn = n*sum(l^2) - (sum l)^2 as floor(sqrt((1e6 * vn) / n^2)): vn and
    1e6*vn are exact int64 (< 2^53 for any n <= 2^16 pixels of uint8
    luma), the division and sqrt are single correctly-rounded IEEE f64
    ops, so any engine evaluating the same expression tree (e.g. the
    DuckDB oracle) reproduces the value bit-for-bit.
    """
    cols = ["image_id", "mean_r", "mean_g", "mean_b", "std_luma"] + [
        f"hist_{b}" for b in range(hist_bins)
    ]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {c: [] for c in cols}
            for img_id, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                a = decode_image_np(bytes(data), int(w), int(h), str(fmt))
                flat = a.reshape(-1, 3).astype(np.int64)
                n = len(flat)
                rows["image_id"].append(img_id)
                for c, name in enumerate(("mean_r", "mean_g", "mean_b")):
                    rows[name].append(int(flat[:, c].sum() * 1000 // n))
                luma = (flat[:, 0] * 299 + flat[:, 1] * 587 + flat[:, 2] * 114) // 1000
                vn = int(n * (luma * luma).sum() - int(luma.sum()) ** 2)
                rows["std_luma"].append(
                    int(np.floor(np.sqrt((1_000_000.0 * vn) / float(n * n))))
                )
                hist = np.bincount(
                    (luma * hist_bins) // 256, minlength=hist_bins
                )[:hist_bins]
                for b in range(hist_bins):
                    rows[f"hist_{b}"].append(int(hist[b]))
            yield pd.DataFrame(rows)

    schema = "image_id string, " + ", ".join(f"{c} long" for c in cols[1:])
    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(op, schema)


def transcode(images: DataFrame, to_fmt: str) -> DataFrame:
    """Re-encode every payload to `to_fmt` (decode -> encode), keeping
    the images-table schema.  With to_fmt='dctq' this turns a lossless
    table into a genuinely lossy one, which is how the PSNR>=40dB
    invariant of image_roundtrip_metrics gets exercised end-to-end."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["bytes"] = [
                _encode_np(
                    decode_image_np(bytes(data), int(w), int(h), str(fmt)), to_fmt
                )
                for data, w, h, fmt in zip(
                    pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
                )
            ]
            out["fmt"] = to_fmt
            yield out

    return images.mapInPandas(op, images.schema)


def resize_nearest(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Deterministic nearest-neighbor resize -> same schema, raw payload.

    Index map: src = floor(dst * src_dim / out_dim) — pure integer, so
    any reimplementation produces identical bytes.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            bs, ws, hs, fmts = [], [], [], []
            for data, w, h, fmt in zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]):
                a = decode_image_np(bytes(data), int(w), int(h), str(fmt))
                ry = (np.arange(out_h) * a.shape[0]) // out_h
                rx = (np.arange(out_w) * a.shape[1]) // out_w
                b = a[ry[:, None], rx[None, :]]
                bs.append(b.tobytes())
                ws.append(out_w)
                hs.append(out_h)
                fmts.append("raw")
            out["bytes"] = bs
            out["w"] = np.array(ws, dtype=np.int32)
            out["h"] = np.array(hs, dtype=np.int32)
            out["fmt"] = fmts
            yield out

    return images.mapInPandas(op, images.schema)


def phash_near_dup(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bands: int = 3,
    max_hamming: int = 2,
    bits: int = 48,
    max_bucket: int | None = 512,
) -> DataFrame:
    """Perceptual-hash near-duplicate pairs -> (image_a, image_b, hamming).

    Banded Hamming join on the images table's ``phash`` column (the
    image-payload analog of SimHash dedup on documents): bucket on
    (bits/bands)-bit slices, exact bit_count re-rank, pigeonhole-exact
    recall for hamming < bands.  The default ``bits=48`` matches the
    packed 3x16-bit synth phash (sources/synth.py _phash); real 64-bit
    perceptual hashes use bits=64, bands=4.  Scale shape: one groupBy
    per band over the (id, phash) projection — the full image payload
    is never shuffled.  ``max_bucket`` (= dedup.MAX_BUCKET_DEFAULT)
    drops degenerate hot band-slices (e.g. millions of all-black
    thumbnails sharing a phash slice) before the C(n,2) expansion.
    """
    from .dedup import hamming_pairs

    return hamming_pairs(
        images.select(id_col, phash_col), phash_col, id_col,
        bands=bands, max_hamming=max_hamming, bits=bits,
        out_cols=("image_a", "image_b"), max_bucket=max_bucket,
    )


def crossmodal_dup_pairs(
    images: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 8,
    phash_bands: int = 3,
    max_hamming: int = 2,
    bits: int = 48,
) -> DataFrame:
    """Cross-modal near-duplicate pairs over (image, caption) rows ->
    (image_a, image_b, n_caption_bands, hamming, match_kind).

    The dedup decision a 10^12-image+caption corpus actually needs is
    JOINT: a pair that is near-dup in BOTH modalities ('both') is a
    true duplicate; caption-dup with unrelated images
    ('caption_only') is caption spam / boilerplate alt-text; image-dup
    with a different caption ('image_only') is a re-captioned repost -
    each gets a different cleaning policy.  Composition of the two
    existing candidate generators, FULL OUTER joined on the ordered
    pair key (both emit a < b):

      captions -> minhash banded LSH   (operators/dedup.py)
      phash    -> banded Hamming join  (phash_near_dup above)

    ``n_caption_bands`` is 0 and ``hamming`` is -1 on the side that
    did not fire.  Scale shape: each side is one aggregation over an
    (id, caption|phash) projection - the image payload is never read,
    and the final join is pair-table x pair-table (tiny vs corpus).
    """
    from .dedup import minhash_lsh_pairs

    cap = minhash_lsh_pairs(
        images.select(id_col, caption_col),
        text_col=caption_col, id_col=id_col,
        n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
    ).select(
        F.col("doc_a").alias("image_a"),
        F.col("doc_b").alias("image_b"),
        F.col("n_bands_hit").cast("long").alias("n_caption_bands"),
    )
    img = phash_near_dup(
        images, id_col, phash_col,
        bands=phash_bands, max_hamming=max_hamming, bits=bits,
    )
    j = cap.join(img, ["image_a", "image_b"], "full_outer")
    match_kind = (
        F.when(
            F.col("n_caption_bands").isNotNull() & F.col("hamming").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("n_caption_bands").isNotNull(), F.lit("caption_only"))
        .otherwise(F.lit("image_only"))
    )
    return j.select(
        "image_a",
        "image_b",
        F.coalesce("n_caption_bands", F.lit(0)).cast("long").alias("n_caption_bands"),
        F.coalesce("hamming", F.lit(-1)).cast("long").alias("hamming"),
        match_kind.alias("match_kind"),
    )


def _luma_int(a: np.ndarray) -> np.ndarray:
    """Integer BT.601 luma, the exact tree image_features uses:
    (r*299 + g*587 + b*114) // 1000 on int64 — reproducible by any
    engine doing the same integer arithmetic."""
    flat = a.astype(np.int64)
    return (flat[..., 0] * 299 + flat[..., 1] * 587 + flat[..., 2] * 114) // 1000


def image_quality(
    images: DataFrame,
    clip_lo: int = 10,
    clip_hi: int = 245,
) -> DataFrame:
    """Per-image curation metrics -> one integer row per image.

    The image-payload analog of the Gopher-style text quality gates
    (operators/text.py quality_score): a 10^12-image training corpus is
    filtered on sharpness (blur detection), exposure clipping, and
    contrast before anything expensive (embedding, captioning) runs.
    All metrics are exact integers over the BT.601 integer luma plane,
    so the DuckDB oracle reproduces them bit-for-bit:

      mean_luma_x1000  floor(1000 * mean(l))             exposure level
      contrast         max(l) - min(l)                   dynamic range
      n_clip_lo/hi     count(l <= clip_lo / >= clip_hi)  blown shadows/highlights
      grad_h_x1000     floor(1000 * mean |l[x+1]-l[x]|)  horizontal sharpness
      grad_v_x1000     floor(1000 * mean |l[y+1]-l[y]|)  vertical sharpness
      sharpness_x1000  floor(1000 * (sum_h+sum_v)/(n_h+n_v))  combined

    grad_h / grad_v are reported separately (not just the combined
    score) so orientation-changing transforms (rot90 in image_augment)
    are value-checked: a 90-degree rotation must exactly swap them.

    Scale shape: one pass over the payload table via Arrow
    ``mapInPandas`` — per-row numpy, no shuffle, no UDF-per-row; the
    output is a narrow integer table suitable for a broadcast-side
    filter join back onto the corpus.
    """
    cols = [
        "image_id", "mean_luma_x1000", "contrast", "n_clip_lo", "n_clip_hi",
        "grad_h_x1000", "grad_v_x1000", "sharpness_x1000",
    ]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {c: [] for c in cols}
            for img_id, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                a = decode_image_np(bytes(data), int(w), int(h), str(fmt))
                l = _luma_int(a)  # (h, w) int64
                n = l.size
                dh = np.abs(np.diff(l, axis=1))  # h x (w-1)
                dv = np.abs(np.diff(l, axis=0))  # (h-1) x w
                sh, sv = int(dh.sum()), int(dv.sum())
                nh, nv = dh.size, dv.size
                rows["image_id"].append(img_id)
                rows["mean_luma_x1000"].append(int(l.sum()) * 1000 // n)
                rows["contrast"].append(int(l.max()) - int(l.min()))
                rows["n_clip_lo"].append(int((l <= clip_lo).sum()))
                rows["n_clip_hi"].append(int((l >= clip_hi).sum()))
                rows["grad_h_x1000"].append(sh * 1000 // nh if nh else 0)
                rows["grad_v_x1000"].append(sv * 1000 // nv if nv else 0)
                rows["sharpness_x1000"].append(
                    (sh + sv) * 1000 // (nh + nv) if nh + nv else 0
                )
            yield pd.DataFrame(
                {c: (rows[c] if c == "image_id"
                     else np.array(rows[c], dtype=np.int64)) for c in cols}
            )

    schema = "image_id string, " + ", ".join(f"{c} long" for c in cols[1:])
    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(op, schema)


def image_augment(
    images: DataFrame,
    crop: int = 1,
    flip_mod: int = 2,
    rot_mod: int = 4,
) -> DataFrame:
    """Deterministic per-row augmentation (crop -> hflip -> rot90) ->
    same images-table schema, raw payload.

    Training-data augmentation plumbing: the transform parameters are a
    pure function of the numeric image id (partition-independent, like
    every synth column), so the pipeline is reproducible and the DuckDB
    oracle can value-check the OUTPUT pixels by inverse coordinate
    remap — not just row counts:

      x0 = id % (crop+1), y0 = (id // 2) % (crop+1)   crop origin
      cw = w - crop, ch = h - crop                     crop size
      hflip when (id % flip_mod) == 1
      k  = id % rot_mod  quarter-turns CCW (numpy rot90 convention:
           out[i, j] = in[j, W-1-i] per turn)

    Output w/h swap when k is odd.  Composed with image_quality, the
    grad_h/grad_v pair must swap under odd k — the orientation check
    the contract query pins.  Scale shape: one Arrow mapInPandas pass,
    no shuffle; bytes stay the same size (minus the crop margin).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            bs, ws, hs, fmts = [], [], [], []
            for img_id, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                rid = int("".join(ch for ch in str(img_id) if ch.isdigit()) or 0)
                a = decode_image_np(bytes(data), int(w), int(h), str(fmt))
                x0 = rid % (crop + 1)
                y0 = (rid // 2) % (crop + 1)
                cw, ch_ = int(w) - crop, int(h) - crop
                b = a[y0:y0 + ch_, x0:x0 + cw]
                if rid % flip_mod == 1:
                    b = b[:, ::-1]
                k = rid % rot_mod
                b = np.rot90(b, k)
                bs.append(np.ascontiguousarray(b, dtype=np.uint8).tobytes())
                hs.append(b.shape[0])
                ws.append(b.shape[1])
                fmts.append("raw")
            out["bytes"] = bs
            out["w"] = np.array(ws, dtype=np.int32)
            out["h"] = np.array(hs, dtype=np.int32)
            out["fmt"] = fmts
            yield out

    return images.mapInPandas(op, images.schema)


def image_knn_hist(
    images: DataFrame,
    queries: DataFrame,
    k: int = 3,
    hist_bins: int = 16,
) -> DataFrame:
    """Content-based top-k retrieval by luma-histogram L1 distance ->
    (query_id, image_id, l1_dist, rank).

    The payload-derived counterpart of the embedding ANN operators
    (operators/similarity.py): features come from the DECODED pixels
    (image_features' integer 16-bin luma histogram), not a precomputed
    embedding column, so this exercises the full decode -> feature ->
    retrieve pipeline.  Distance is the exact integer L1 over the flat
    hist_0..hist_{B-1} columns; ties break on image_id so the top-k set
    is deterministic.  Self-matches (query_id == image_id) are excluded.

    Scale shape: features are one payload pass per side; the query
    feature table (tiny) is broadcast against the corpus features —
    a narrow 1+B-column integer table, never the bytes — and the
    per-query top-k is a window over the broadcast-join output.  For
    query sets too large to broadcast, bucket the histogram space
    first (operators/similarity.py embed_lsh_pairs shows the banded
    pattern); this operator is the exact baseline.
    """
    cf = image_features(images, hist_bins=hist_bins)
    qf = image_features(queries, hist_bins=hist_bins).select(
        F.col("image_id").alias("query_id"),
        *[F.col(f"hist_{b}").alias(f"qh_{b}") for b in range(hist_bins)],
    )
    dist = None
    for b in range(hist_bins):
        t = F.abs(F.col(f"qh_{b}") - F.col(f"hist_{b}"))
        dist = t if dist is None else dist + t
    j = (
        cf.join(F.broadcast(qf), F.col("query_id") != F.col("image_id"))
        .select("query_id", "image_id", dist.cast("long").alias("l1_dist"))
    )
    from pyspark.sql import Window

    win = Window.partitionBy("query_id").orderBy("l1_dist", "image_id")
    return (
        j.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "image_id", "l1_dist", F.col("rank").cast("long").alias("rank"))
    )
