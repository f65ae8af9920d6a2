"""Image near-duplicate detection over opaque binary payloads.

Images travel as a ``binary`` column (``html`` by default). The
perceptual path (``image_dhash`` -> ``dhash_blocks`` ->
``image_dedup_ledger``) finds byte-identical, re-encoded and resized copies
through a 64-bit difference hash, clustering distinct hash values rather
than ids.
``image_dhash`` decodes and hashes each payload of a ``mapInArrow`` batch,
read straight off the Arrow binary column.

Decode is plug-in gated: when Pillow is importable (``_pil_image()``) any
codec it knows decodes; without it PNG still decodes for real through the
pure-stdlib ``png_decode_gray`` (zlib inflate + unfilter + PIL-exact
integer luma, bit-identical pixels to Pillow's convert("L")). Resampling is
the shared area-average ``_resample_gray`` in both paths, so PNG dHashes are
environment-independent. ``image_dhash`` nulls payloads it cannot decode.
"""

from __future__ import annotations

import io
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _pil_image():
    """PIL.Image when Pillow is importable, else None — the codec plug-in
    gate. Called inside the Arrow workers so each worker resolves its own
    environment; import is memoized by sys.modules."""
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        return None
    from PIL import Image

    return Image


def png_decode_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-stdlib PNG decode to (width, height, 8-bit grayscale bytes).

    zlib inflate + scanline unfilter (all five PNG filters) + grayscale
    conversion with Pillow's exact integer luma (L24: (19595R + 38470G +
    7471B + 0x8000) >> 16), so the decoded pixels are bit-identical to
    ``PIL.Image.open(...).convert("L")`` for supported inputs. Supports
    8-bit-depth, non-interlaced PNGs of color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha), 6 (RGBA) — alpha dropped like PIL's
    convert("L"). Anything else raises NotImplementedError (the plug-in
    gate's honest boundary); Pillow, when present, handles those.
    """
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError(
            "stdlib fallback decodes PNG only; install Pillow for other "
            "codecs")
    pos, idat, palette = 8, [], None
    w = h = bit_depth = color_type = interlace = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data)
        elif ctype == b"PLTE":
            palette = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("corrupt PNG: no IHDR chunk")
    if bit_depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"stdlib PNG fallback handles 8-bit non-interlaced only "
            f"(got depth={bit_depth}, interlace={interlace}); install Pillow")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"corrupt PNG: color type {color_type}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("corrupt PNG: truncated pixel data")

    import numpy as np

    bpp = channels  # bytes per pixel at 8-bit depth
    scan = np.frombuffer(raw, np.uint8, count=h * (stride + 1)).reshape(
        h, stride + 1)
    filters = scan[:, 0]
    if filters.max(initial=0) > 4:
        bad = int(filters[filters > 4][0])
        raise ValueError(f"corrupt PNG: filter {bad}")
    data = scan[:, 1:]
    # Unfilter. Filters 0/1/2 are fully vectorized per row (Sub is a
    # per-channel uint8 cumsum — mod-256 wrap IS the spec's arithmetic);
    # Average/Paeth keep the spec's sequential per-byte recurrence (each
    # byte depends on the just-reconstructed left neighbor). The row loop
    # itself stays: rows 2-4 depend on the prior row's RESULT.
    if not filters.any():
        pixels = np.ascontiguousarray(data)  # common case: one copy
    else:
        pixels = np.empty((h, stride), np.uint8)
        zero_row = np.zeros(stride, np.uint8)
        for y in range(h):
            flt = filters[y]
            row = data[y]
            prior = pixels[y - 1] if y else zero_row
            if flt == 0:
                pixels[y] = row
            elif flt == 1:  # Sub: per-channel prefix sum mod 256
                np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8,
                          out=pixels[y].reshape(-1, bpp))
            elif flt == 2:  # Up
                np.add(row, prior, out=pixels[y])
            elif flt == 3:  # Average
                cur = bytearray(row.tobytes())
                pr = prior
                for i in range(stride):
                    a = cur[i - bpp] if i >= bpp else 0
                    cur[i] = (cur[i] + ((a + int(pr[i])) >> 1)) & 0xFF
                pixels[y] = np.frombuffer(bytes(cur), np.uint8)
            else:  # Paeth
                cur = bytearray(row.tobytes())
                pr = prior
                for i in range(stride):
                    a = cur[i - bpp] if i >= bpp else 0
                    b = int(pr[i])
                    c = int(pr[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (a if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else c))
                    cur[i] = (cur[i] + pred) & 0xFF
                pixels[y] = np.frombuffer(bytes(cur), np.uint8)

    def l24(r: int, g: int, b: int) -> int:
        return (19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16

    flat = pixels.reshape(-1)
    if color_type == 0:
        gray = flat
    elif color_type == 4:  # gray+alpha: drop alpha
        gray = np.ascontiguousarray(flat[0::2])
    elif color_type in (2, 6):  # RGB / RGBA: vectorized exact integer luma
        p = flat.reshape(-1, channels).astype(np.uint32)
        gray = ((np.uint32(19595) * p[:, 0] + np.uint32(38470) * p[:, 1]
                 + np.uint32(7471) * p[:, 2] + np.uint32(0x8000))
                >> np.uint32(16)).astype(np.uint8)
    else:  # palette
        if palette is None:
            raise ValueError("corrupt PNG: palette image without PLTE")
        lut = bytearray(256)  # translate() needs a full 256-entry table
        for j in range(len(palette) // 3):
            lut[j] = l24(palette[3 * j], palette[3 * j + 1], palette[3 * j + 2])
        gray = np.frombuffer(
            flat.tobytes().translate(bytes(lut)), np.uint8)
    return w, h, gray.tobytes()


def _decode_gray(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, 8-bit grayscale) — Pillow when importable (any codec),
    else the pure-stdlib PNG decoder. For PNG inputs the two produce
    bit-identical pixels (png_decode_gray uses PIL's integer luma)."""
    Image = _pil_image()
    if Image is not None:
        img = Image.open(io.BytesIO(payload)).convert("L")
        return img.width, img.height, img.tobytes()
    return png_decode_gray(payload)


def _resample_gray(gray: bytes, w: int, h: int, tw: int, th: int) -> bytes:
    """Deterministic area-average (box) resample of an 8-bit grayscale
    bitmap. Used by BOTH the Pillow and stdlib decode paths so a PNG yields
    identical dHashes in every environment (PIL's default bicubic would
    couple output values to the Pillow version).

    One integral-image (2D prefix sum) pass + a vectorized gather replaces
    the former per-target-cell Python loop (tw*th numpy slice-mean calls
    per image — the decode kernel's dominant cost for small targets like
    the 9x8 dHash grid). Bit-identical: region sums are exact int64, and
    truncating the float64 mean equals integer floor division here (the
    mean of uint8 values is a rational with denominator `count`, never
    within one ulp of an integer unless it IS one)."""
    import numpy as np

    a = np.frombuffer(gray, np.uint8).reshape(h, w)
    ii = np.zeros((h + 1, w + 1), np.int64)
    ii[1:, 1:] = np.cumsum(a, axis=0, dtype=np.int64).cumsum(axis=1)
    ty = np.arange(th, dtype=np.int64)
    tx = np.arange(tw, dtype=np.int64)
    y0 = ty * h // th
    y1 = np.maximum(y0 + 1, (ty + 1) * h // th)
    x0 = tx * w // tw
    x1 = np.maximum(x0 + 1, (tx + 1) * w // tw)
    sums = (ii[y1[:, None], x1[None, :]] - ii[y0[:, None], x1[None, :]]
            - ii[y1[:, None], x0[None, :]] + ii[y0[:, None], x0[None, :]])
    counts = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return (sums // counts).astype(np.uint8).tobytes()


def png_encode_gray(w: int, h: int, gray: bytes) -> bytes:
    """Pure-stdlib 8-bit grayscale PNG encode (color type 0, filter 0
    scanlines, one zlib IDAT, valid chunk CRCs). Round-trips bit-exactly
    through ``png_decode_gray`` AND Pillow — the synthesis side of the
    codec-less test path."""
    import zlib

    if len(gray) != w * h:
        raise ValueError(f"gray must be w*h={w * h} bytes, got {len(gray)}")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    scanlines = b"".join(
        b"\x00" + gray[y * w:(y + 1) * w] for y in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scanlines))
            + chunk(b"IEND", b""))


# dHash grid: 9 columns x 8 rows of box-resampled grayscale -> 8 horizontal
# gradient comparisons per row = 64 bits. Bit j = y*8 + x is set iff
# grid[y, x] > grid[y, x+1] (little-endian packing, two's-complement long —
# the same layout simhash uses, so the DuckDB HUGEINT replay is shared).
DHASH_GRID = (9, 8)


def image_dhash(df: DataFrame, payload_col: str = "html",
                id_col: str = "url") -> DataFrame:
    """(id, dhash long): 64-bit perceptual difference-hash per image.

    Decode (Pillow any-codec, else stdlib PNG — bit-identical pixels) ->
    deterministic 9x8 box resample (``_resample_gray``, environment-
    independent) -> horizontal gradient sign bits. Robust to re-encoding
    and resizing (the gradient GRID is scale-free: an N-times upscaled
    copy box-resamples to the identical 9x8 grid), which a byte-level
    hash cannot see. Null payloads hash to null."""
    import numpy as np
    import pyarrow as pa

    tw, th = DHASH_GRID
    schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType, False),
        T.StructField("dhash", T.LongType(), True),
    ])

    def _twos(v: int) -> int:
        # explicit little-endian + two's-complement wrap: a native-order
        # uint64 view would flip the pinned bit layout on big-endian hosts
        # (breaking the oracle replay and cross-env signature reuse)
        return v - (1 << 64) if v >= (1 << 63) else v

    def _hash_one(payload: bytes) -> int | None:
        # Undecodable payloads (non-image bytes in the html column, truncated
        # files, codecs absent) null out per-row instead of failing the task:
        # one corrupt image must not kill a corpus-scale job, and the ledger
        # documents nulls as unhashed singletons.
        try:
            w, h, gray = _decode_gray(payload)
        except Exception:
            return None
        grid = np.frombuffer(
            _resample_gray(gray, w, h, tw, th), np.uint8).reshape(th, tw)
        bits = (grid[:, :-1] > grid[:, 1:]).astype(np.uint8)  # (th, tw-1)
        packed = np.packbits(bits.reshape(-1), bitorder="little")
        return _twos(int.from_bytes(packed.tobytes(), "little"))

    def run(batches):
        for batch in batches:
            vals = [None if payload is None else _hash_one(payload)
                    for payload in batch.column(payload_col).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(vals, pa.int64())],
                names=[id_col, "dhash"])

    return df.select(id_col, payload_col).mapInArrow(run, schema=schema)


def dhash_blocks(sig_df: DataFrame, hamming_threshold: int,
                 id_col: str = "url") -> DataFrame:
    """(id, block_id, val_a, val_b): two-block pigeonhole combination keys.

    With m = k+2 blocks of 64//m bits, <= k differing bits damage at most
    k blocks, leaving >= 2 clean — so any pair within Hamming distance k
    agrees exactly on at least one PAIR of blocks and the (block-pair,
    values) equi-join has EXACT recall. Single-block keys (the
    simhash_blocks trick) are only 64/(k+1) bits wide — 12 bits at k=4,
    i.e. 4096 bucket values: at millions of images every bucket blows past
    the skew cap and the salted-star degrade quietly destroys family
    connectivity. Pair keys are 2*width bits (20 at k=4, ~1M values), so
    bucket occupancy stays ~n/2^(2*width) per block pair — the cap stays a
    pathological-skew guard instead of the steady state. C(m, 2) rows per
    image (15 at k=4) is the price, paid in a map-side explode."""
    if not 0 <= hamming_threshold <= 30:
        raise ValueError(
            f"hamming_threshold must be in [0, 30], got {hamming_threshold}")
    m = hamming_threshold + 2
    width = 64 // m
    mask = (1 << width) - 1
    pair_ids = [(i, j) for i in range(m) for j in range(i + 1, m)]
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), "
        f"i -> shiftrightunsigned(dhash, i * {width}) & {mask}L)")
    nn = sig_df.filter(F.col("dhash").isNotNull()).select(
        id_col, slices.alias("_sl"))
    keys = F.array(*[
        F.struct(
            F.lit(i * m + j).alias("block_id"),
            F.col("_sl").getItem(i).alias("val_a"),
            F.col("_sl").getItem(j).alias("val_b"),
        ) for i, j in pair_ids
    ])
    return nn.select(id_col, F.explode(keys).alias("_k")).select(
        id_col,
        F.col("_k.block_id").alias("block_id"),
        F.col("_k.val_a").alias("val_a"),
        F.col("_k.val_b").alias("val_b"),
    )


def image_dedup_ledger(df: DataFrame, payload_col: str = "html",
                       id_col: str = "url", hamming_threshold: int = 4,
                       max_bucket_size: int = 256) -> DataFrame:
    """(id, dhash, cluster_key) for EVERY input row: duplicate components
    carry 'cc:' + the component's min id, singletons (and undecodable/null
    payloads) their own id.

    Exact-duplicate contraction: blocking, skew-capped bucket pairing, the
    bit_count verify and the component fixpoint all run over DISTINCT
    dhash VALUES, not images. Re-encoded and rescaled copies hash
    identically, so value space is typically orders of magnitude smaller
    than image space, and the verify needs no signature joins: the
    candidate pair IS the two values. The labels are provably those of
    the id-level graph (components.value_component_labels), and
    ``max_bucket_size`` caps distinct-VALUE buckets. Signatures are
    computed once and persisted; the value-keyed labels LEFT-join back on
    dhash directly (null dhash never matches, so undecodable rows
    coalesce to themselves)."""
    from pyspark import StorageLevel

    from .cache import cache_scope, track
    from .components import materialize, value_component_labels
    from .pairs import bucket_pairs

    with cache_scope():
        sigs = track(
            image_dhash(df, payload_col=payload_col, id_col=id_col)
            .persist(StorageLevel.MEMORY_AND_DISK))
        # one skinny row per distinct value: feeds blocking AND the
        # component expansion (count + min id ride the same aggregation)
        vals = track(
            sigs.filter(F.col("dhash").isNotNull())
            .groupBy("dhash")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.min(id_col).alias("_vmin"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        blocks = dhash_blocks(
            vals.select(F.col("dhash").alias("_vid"), "dhash"),
            hamming_threshold, id_col="_vid")
        edges = (
            bucket_pairs(blocks, ["block_id", "val_a", "val_b"],
                         id_col="_vid", cap=max_bucket_size)
            .dropDuplicates(["a", "b"])
            .filter(F.bit_count(F.col("a").bitwiseXOR(F.col("b")))
                    <= hamming_threshold)
        )
        labels = value_component_labels(edges, vals, "dhash")
        ledger = (
            sigs.join(labels, "dhash", "left")
            .select(
                id_col, "dhash",
                F.coalesce(
                    "cluster_key",
                    F.concat(F.lit("cc:"), F.col(id_col).cast("string")))
                .alias("cluster_key"))
        )
        # Materialize inside the scope: the component fixpoint has already
        # run eagerly, the remaining work is slim label joins, and the
        # caller gets a frame that no longer depends on the scoped caches.
        return materialize(ledger)
