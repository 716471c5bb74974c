"""Multimodal column handling — binary payloads with typed metadata.

Image/audio/video are opaque ``binary`` columns processed by Arrow-batched
``mapInPandas`` kernels, exactly like the text-extraction kernel (U1).

Decode is REAL for the header-parsable part: PNG/GIF/JPEG/BMP container
headers carry dimensions in plain bytes, so ``_parse_image_header``
extracts (format, width, height) with no codec library at all — that is
the metadata a curation pipeline filters on (drop tiny images, bucket by
aspect ratio) before any pixel work. Pixel decode is REAL for
uncompressed 24-bit BMP (``_parse_bmp_pixels``: numpy over the raw padded
pixel array → channel sums / luminance, oracle-verified via
mm_pixel_stats), for 8-bit PNG — gray/RGB/palette/alpha, sequential or
Adam7-interlaced — via stdlib zlib inflate + vectorized unfilter
(``_parse_png_pixels``, oracle-verified via mm_png_pixels), for GIF
via a pure-Python LZW decoder (``_parse_gif_pixels``, oracle-verified
via mm_gif_pixels), and for Huffman-coded JPEG — baseline
sequential AND progressive — via a pure numpy/Python Huffman +
vectorized-IDCT decoder (``_parse_jpeg_pixels``, oracle-verified via
mm_jpeg_pixels / mm_jpeg_progressive; arithmetic/12-bit streams fall to
the stub — see COVERAGE.md multimodal row). Resizing,
perceptual hashing, and video frame sampling still need the absent
codec/media libraries; those fall back to a deterministic md5-derived
STUB; the metadata path's ``phash`` column is a content-hash stand-in,
while ``decode_image_ahash`` computes a REAL 64-bit perceptual average
hash from decoded planes (24-bit BMP today, oracle-verified via
dd_image_phash) with the md5 stand-in only as its flagged fallback. Swap
the fallback for PIL/ffmpeg on a real cluster without touching the plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

DECODED_SCHEMA = (
    "url string, n_bytes long, format string, width long, height long, "
    "phash long"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _parse_image_header(p: bytes):
    """Real container-header parse → (format, width, height) or None.

    PNG: IHDR is always the first chunk — width/height BE u32 at 16/20.
    GIF: logical screen w/h LE u16 at 6/8.  BMP: i32 LE at 18/22.
    JPEG: scan markers for a SOFn (C0-C3, C5-C7, C9-CB, CD-CF) segment;
    height BE u16 at +5, width at +7 inside it.
    """
    if p[:8] == _PNG_SIG and len(p) >= 24 and p[12:16] == b"IHDR":
        return ("png", int.from_bytes(p[16:20], "big"),
                int.from_bytes(p[20:24], "big"))
    if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        return ("gif", int.from_bytes(p[6:8], "little"),
                int.from_bytes(p[8:10], "little"))
    if p[:2] == b"BM" and len(p) >= 26:
        return ("bmp", int.from_bytes(p[18:22], "little", signed=True),
                abs(int.from_bytes(p[22:26], "little", signed=True)))
    if p[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(p):
            if p[i] != 0xFF:
                return None  # corrupt marker stream
            marker = p[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(p[i + 2:i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return ("jpeg", int.from_bytes(p[i + 7:i + 9], "big"),
                        int.from_bytes(p[i + 5:i + 7], "big"))
            i += 2 + seg_len
    return None


def _decode_image(payload: bytes) -> dict:
    """Header-real decode with a deterministic stub fallback (see module
    docstring). ``phash`` is always the md5 content hash — a dedup
    fingerprint, not a perceptual hash (needs pixel decode)."""
    if payload is None or len(payload) == 0:
        return {"n_bytes": 0, "format": "empty", "width": 0, "height": 0, "phash": 0}
    payload = bytes(payload)
    h = hashlib.md5(payload).digest()
    parsed = _parse_image_header(payload)
    if parsed is not None:
        fmt, w, ht = parsed
        return {"n_bytes": len(payload), "format": fmt, "width": w,
                "height": ht, "phash": int.from_bytes(h[3:11], "big", signed=True)}
    return {
        "n_bytes": len(payload),
        "format": "unknown",
        "width": 64 + (h[1] % 64) * 16,
        "height": 64 + (h[2] % 64) * 16,
        "phash": int.from_bytes(h[3:11], "big", signed=True),
    }


PIXEL_SCHEMA = (
    "url string, n_px long, sum_r long, sum_g long, sum_b long, "
    "mean_lum double"
)


def _parse_bmp_pixels(p: bytes):
    """REAL pixel decode for uncompressed 24-bit BMP — the one raster
    format whose pixel array is plain bytes (no codec library needed):
    BITMAPINFOHEADER, biCompression=0, biBitCount=24, rows bottom-up and
    4-byte padded. → channel sums + pixel count, or None for anything
    else (compressed/paletted/other containers still need the codec libs
    absent from this sandbox)."""
    if p[:2] != b"BM" or len(p) < 54:
        return None
    off = int.from_bytes(p[10:14], "little")
    hsz = int.from_bytes(p[14:18], "little")
    w = int.from_bytes(p[18:22], "little", signed=True)
    h = int.from_bytes(p[22:26], "little", signed=True)
    bitcount = int.from_bytes(p[28:30], "little")
    comp = int.from_bytes(p[30:34], "little")
    if hsz < 40 or bitcount != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    rows = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    if len(p) < off + rows * stride:
        return None
    import numpy as np

    a = (
        np.frombuffer(p, dtype=np.uint8, count=rows * stride, offset=off)
        .reshape(rows, stride)[:, : w * 3]
        .reshape(-1, 3)
        .astype(np.int64)
    )
    sb, sg, sr = (int(s) for s in a.sum(axis=0))  # BMP stores B,G,R
    return {"n_px": w * rows, "sum_r": sr, "sum_g": sg, "sum_b": sb}


def _parse_bmp_plane(p: bytes):
    """Like _parse_bmp_pixels but returns the (h, w, 3) uint8 RGB plane
    in IMAGE orientation (BMP rows are stored bottom-up; negative height
    means top-down) — the input for position-dependent features like the
    REAL average-hash. None for anything but uncompressed 24-bit BMP."""
    if p[:2] != b"BM" or len(p) < 54:
        return None
    off = int.from_bytes(p[10:14], "little")
    hsz = int.from_bytes(p[14:18], "little")
    w = int.from_bytes(p[18:22], "little", signed=True)
    h = int.from_bytes(p[22:26], "little", signed=True)
    bitcount = int.from_bytes(p[28:30], "little")
    comp = int.from_bytes(p[30:34], "little")
    if hsz < 40 or bitcount != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    rows = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    if len(p) < off + rows * stride:
        return None
    import numpy as np

    a = (
        np.frombuffer(p, dtype=np.uint8, count=rows * stride, offset=off)
        .reshape(rows, stride)[:, : w * 3]
        .reshape(rows, w, 3)[:, :, ::-1]  # BGR → RGB
    )
    if h > 0:
        a = a[::-1]  # bottom-up storage → image orientation
    return a


def ahash64(plane) -> tuple:
    """REAL 64-bit average hash (aHash) over an RGB image plane: integer
    luminance (299r + 587g + 114b — scaled by 1000 so everything stays
    exact), nearest-neighbor resample to 8x8 (src index (k·dim)//8),
    mean-threshold bits (strict: lum·64 > total), bit k = row-major
    i·8 + j. Returns (hi, lo) as two 32-bit ints so the value fits
    signed 64-bit columns in any engine without sign games."""
    import numpy as np

    hh, ww = plane.shape[0], plane.shape[1]
    lum = (plane.astype(np.int64) * np.array([299, 587, 114])).sum(axis=2)
    ys = (np.arange(8) * hh) // 8
    xs = (np.arange(8) * ww) // 8
    grid = lum[ys][:, xs]
    total = int(grid.sum())
    bits = (grid.reshape(-1) * 64 > total)
    lo = hi = 0
    for k in range(32):
        if bits[k]:
            lo |= 1 << k
        if bits[k + 32]:
            hi |= 1 << k
    return hi, lo


def _unfilter_scalar_row(line, prev, bpp: int, ft: int):
    """One Average/Paeth row via a tuned pure-Python loop over plain
    lists (no per-element numpy scalar extraction, predictor inlined).
    Used only for SHORT filter-3/4 runs where the wavefront's per-
    diagonal numpy overhead would exceed the loop; its total work is
    bounded by the caller's scalar-pixel budget."""
    rowlen = len(line)
    x = line.tolist()
    pr = prev.tolist()
    rec = [0] * rowlen
    if ft == 3:  # Average
        for j in range(bpp):
            rec[j] = (x[j] + pr[j] // 2) & 255
        for j in range(bpp, rowlen):
            rec[j] = (x[j] + (rec[j - bpp] + pr[j]) // 2) & 255
    else:  # Paeth
        for j in range(bpp):
            rec[j] = (x[j] + pr[j]) & 255  # a=c=0 → predictor = b
        for j in range(bpp, rowlen):
            a = rec[j - bpp]
            b = pr[j]
            c = pr[j - bpp]
            p = a + b - c
            pa = p - a
            if pa < 0:
                pa = -pa
            pb = p - b
            if pb < 0:
                pb = -pb
            pc = p - c
            if pc < 0:
                pc = -pc
            if pa <= pb and pa <= pc:
                pred = a
            elif pb <= pc:
                pred = b
            else:
                pred = c
            rec[j] = (x[j] + pred) & 255
    import numpy as np

    return np.asarray(rec, dtype=np.uint8)


# Below this many consecutive filter-3/4 rows the anti-diagonal wavefront's
# per-diagonal numpy dispatch overhead exceeds the tuned scalar loop.
_WAVEFRONT_MIN_RUN = 8

# Per-image cap on pixels reconstructed through the SCALAR Average/Paeth
# path (short runs the wavefront can't amortize). An adversarial corpus
# of large images alternating row filters 2,4,2,4,… would otherwise keep
# every row on the interpreter loop — this bounds that CPU at ~1-2 s per
# image worst case; beyond it the image falls to the documented stub.
_SCALAR_PX_BUDGET = 4_000_000

# Per-frame pixel cap for GIF (r6 ADVICE): LZW decode is a pure-Python
# per-code loop (no wavefront analog exists — the recurrence is over a
# growing code table, not pixels), so GIF gets a 4× lower cap than PNG's
# 16 MP; a frame at the cap decodes in ~2-3 s instead of ~10 s+.
_GIF_PX_BUDGET = 4_000_000


def _unfilter_wavefront(run, fts, prev, w: int, bpp: int, out) -> None:
    """Vectorized unfilter for a run of R consecutive Average/Paeth rows.

    Both filters depend on left (y, x-1), up (y-1, x) and up-left
    (y-1, x-1) — all strictly inside the previous two anti-diagonals
    d-1 / d-2 of d = x + y. So the image run is swept along R + w - 1
    anti-diagonals, each one a fully vectorized numpy update over up to
    min(R, w) pixels × bpp channels: per-image Python iterations drop
    from h·w·channels to ~(R + w), which is what bounds CPU on large
    Paeth-heavy images from an untrusted corpus.

    `run`: (R, w·bpp) uint8 filtered bytes; `fts`: (R,) filter types in
    {3, 4}; `prev`: (w·bpp,) uint8 reconstructed row above the run
    (zeros at image top). Writes the R reconstructed uint8 rows into
    `out` (an (R, w·bpp) uint8 view of the caller's recon) row by row —
    no (R, w·bpp) intermediate beyond the workspace itself.

    The workspace is int16, not int64 (r6 verdict item 4): every
    intermediate is bounded — reconstructed bytes are 0-255, the Paeth
    p = a + b - c is in [-255, 510] and |p - x| ≤ 765 — so int16 holds
    the math with 40× headroom while cutting peak per-image memory 4×,
    and the input run / output rows stay uint8. A worst-case 16 MP RGBA
    all-Paeth image peaks at ~130 MB workspace + ~64 MB uint8 staging
    instead of the old ~1 GB of int64.
    """
    import numpy as np

    R = run.shape[0]
    # Padded workspace: row 0 = prev row shifted so col 0 is the
    # "pixel -1" (zeros); rows 1..R col 0 = zeros (left of first pixel).
    Wk = np.zeros((R + 1, w + 1, bpp), dtype=np.int16)
    Wk[0, 1:] = prev.reshape(w, bpp)
    is_avg = (fts == 3)
    ys_all = np.arange(R)
    coloff = np.arange(bpp)
    for d in range(R + w - 1):
        lo = max(0, d - w + 1)
        hi = min(R - 1, d)
        ys = ys_all[lo:hi + 1]
        xs = d - ys
        left = Wk[ys + 1, xs]
        up = Wk[ys, xs + 1]
        upleft = Wk[ys, xs]
        # gather the diagonal's input bytes straight from the uint8 run
        # view — no (R, w, bpp) reshape copy of the whole run
        x_in = run[ys[:, None], xs[:, None] * bpp + coloff]
        p = left + up - upleft
        pa = np.abs(p - left)
        pb = np.abs(p - up)
        pc = np.abs(p - upleft)
        paeth = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        avg = (left + up) >> 1
        pred = np.where(is_avg[ys, None], avg, paeth)
        Wk[ys + 1, xs + 1] = (x_in + pred) & 255
    for r in range(R):  # row-wise uint8 cast — O(w·bpp) temp per row
        out[r] = Wk[r + 1, 1:].reshape(w * bpp)


def _unfilter_pass(arr, h: int, w: int, bpp: int, budget: list):
    """Unfilter one PNG pass: `arr` is (h, 1 + w·bpp) uint8 raw scanlines
    (leading filter byte per row). Returns (h, w·bpp) uint8 reconstructed
    rows, or None on an invalid filter type / exhausted scalar budget.

    The staging is uint8, not int64 (r6 verdict item 4): PNG's filter
    recurrences are mod-256 by spec, so wrapping uint8 adds ARE the spec
    math for None/Sub/Up — no widening, no `% 256`. Only Average/Paeth
    need signed headroom (Paeth p ∈ [-255, 510]) and run in the int16
    wavefront. Peak per-image allocation at the 16 MP cap drops ~8×
    (recon 64 MB, wavefront workspace ~130 MB for RGBA); channel-sum
    accumulation stays int64 at the caller.

    Filter types 0/2 are whole-row vectorized and 1 (Sub) is a per-lane
    wrapping accumulate; maximal runs of 3/4 (Average/Paeth) of
    ≥ _WAVEFRONT_MIN_RUN rows go through the anti-diagonal wavefront;
    shorter runs use the tuned scalar loop, drawing down `budget[0]`
    pixels — the CPU bound for adversarial inputs that alternate filters
    to defeat the wavefront (ADVICE r5: memory was bounded, CPU was
    not)."""
    import numpy as np

    rowlen = w * bpp
    recon = np.zeros((h, rowlen), dtype=np.uint8)
    prev = np.zeros(rowlen, dtype=np.uint8)
    y = 0
    while y < h:
        ft = int(arr[y, 0])
        if ft in (0, 1, 2):
            line = arr[y, 1:]
            if ft == 0:
                recon[y] = line
            elif ft == 1:  # Sub — per-lane wrapping accumulate ≡ mod-256 cumsum
                r = line.copy()
                for lane in range(bpp):
                    # dtype=uint8 keeps the accumulate wrapping in-type
                    # (without it numpy upcasts to uint64 and correctness
                    # would hang on the truncating reassignment)
                    np.add.accumulate(
                        r[lane::bpp], dtype=np.uint8, out=r[lane::bpp])
                recon[y] = r
            else:  # Up — wrapping uint8 add ≡ mod-256
                recon[y] = line + prev
            prev = recon[y]
            y += 1
        elif ft in (3, 4):
            y2 = y
            while y2 < h and int(arr[y2, 0]) in (3, 4):
                y2 += 1
            R = y2 - y
            if R >= _WAVEFRONT_MIN_RUN:
                _unfilter_wavefront(
                    arr[y:y2, 1:], arr[y:y2, 0].astype(np.int16),
                    prev, w, bpp, recon[y:y2])
                prev = recon[y2 - 1]
            else:
                budget[0] -= R * w
                if budget[0] < 0:
                    return None
                for yy in range(y, y2):
                    prev = _unfilter_scalar_row(
                        arr[yy, 1:], prev, bpp, int(arr[yy, 0]))
                    recon[yy] = prev
            y = y2
        else:
            return None
    return recon


# Adam7 interlace passes: (row_start, col_start, row_step, col_step).
_ADAM7 = (
    (0, 0, 8, 8), (0, 4, 8, 8), (4, 0, 8, 4), (0, 2, 4, 4),
    (2, 0, 4, 2), (0, 1, 2, 2), (1, 0, 2, 1),
)


def _parse_png_pixels(p: bytes):
    """REAL pixel decode for 8-bit-depth PNG using ONLY stdlib zlib +
    numpy — no codec library: walk the chunk stream (CRC-checked),
    inflate the concatenated IDAT payload, undo the per-row filters
    (types 0-4) against the previous reconstructed scanline, and
    accumulate channel sums. Color types 0 (gray), 2 (RGB), 3 (palette
    via PLTE indirection), 4 (gray+alpha) and 6 (RGBA) are supported,
    both sequential and Adam7-interlaced (each of the seven sub-images
    is unfiltered independently; channel sums are position-independent,
    so no de-interlace reassembly is needed). Gray maps to r=g=b and
    alpha never enters the sums. Returns None for 16-bit or corrupt
    streams — those fall through to the documented stub.

    Filter types 0/2 unfilter whole-row vectorized, Sub as a per-lane
    cumsum, and Average/Paeth runs via the anti-diagonal wavefront
    (_unfilter_wavefront) — per-image Python iterations are ~(h + w),
    not h·w·channels. Short 3/4 runs use a tuned scalar loop drawn
    against a per-image pixel budget.

    Untrusted-corpus bounds — memory AND cpu: declared dimensions are
    checked against ``max_px`` BEFORE any inflate (a crafted IHDR must
    not drive a multi-GB zlib.decompress); the inflate is capped at the
    exact expected scanline volume via decompressobj (a deflate bomb
    yields None, never an allocation); and scalar-path unfilter work is
    capped at ``_SCALAR_PX_BUDGET`` pixels per image, so a crafted
    corpus of large filter-alternating images degrades to the stub
    instead of stalling executor tasks (r5 ADVICE)."""
    import zlib

    import numpy as np

    max_px = 16_000_000  # ~16 MP: covers web images; beyond it → stub path
    if p[:8] != _PNG_SIG:
        return None
    i = 8
    w = h = None
    channels = colortype = None
    interlace = 0
    plte = None
    idat: list[bytes] = []
    while i + 12 <= len(p):
        ln = int.from_bytes(p[i:i + 4], "big")
        typ = p[i + 4:i + 8]
        data = p[i + 8:i + 8 + ln]
        crc = p[i + 8 + ln:i + 12 + ln]
        if len(data) < ln or len(crc) < 4:
            return None
        if zlib.crc32(typ + data) != int.from_bytes(crc, "big"):
            return None
        if typ == b"IHDR":
            if ln != 13:
                return None
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            bitdepth, colortype = data[8], data[9]
            comp, filt, interlace = data[10], data[11], data[12]
            if bitdepth != 8 or comp != 0 or filt != 0 or interlace > 1:
                return None
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colortype)
            if channels is None:
                return None
        elif typ == b"PLTE":
            if ln % 3 != 0 or ln == 0 or ln > 768:
                return None
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + ln
    if w is None or not idat or w <= 0 or h <= 0 or w * h > max_px:
        return None
    if colortype == 3 and plte is None:
        return None
    # Pass geometry: one full-frame pass, or the seven Adam7 sub-images
    # (empty passes contribute no scanlines at all, filter bytes included).
    if interlace == 0:
        passes = [(h, w)]
    else:
        passes = []
        for r0, c0, rs, cs in _ADAM7:
            ph = (h - r0 + rs - 1) // rs
            pw = (w - c0 + cs - 1) // cs
            if ph > 0 and pw > 0:
                passes.append((ph, pw))
    expected = sum(ph * (1 + pw * channels) for ph, pw in passes)
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expected)
        if d.unconsumed_tail or d.unused_data or d.decompress(b"", 1):
            # unconsumed_tail: stream inflates past the declared
            # dimensions; unused_data: bytes after the zlib stream end
            # (e.g. a duplicated IDAT) — corrupt either way
            return None
    except zlib.error:
        return None
    if len(raw) != expected:
        return None
    budget = [_SCALAR_PX_BUDGET]
    sums = np.zeros(channels, dtype=np.int64)
    idx_counts = np.zeros(256, dtype=np.int64) if colortype == 3 else None
    off = 0
    for ph, pw in passes:
        n = ph * (1 + pw * channels)
        arr = np.frombuffer(raw, dtype=np.uint8,
                            count=n, offset=off).reshape(ph, -1)
        off += n
        recon = _unfilter_pass(arr, ph, pw, channels, budget)
        if recon is None:
            return None
        if colortype == 3:
            idx_counts += np.bincount(recon.ravel(), minlength=256)
        else:
            # explicit int64 accumulation — recon itself is uint8 staging
            sums += recon.reshape(ph * pw, channels).sum(axis=0,
                                                         dtype=np.int64)
    if colortype == 3:
        if int(idx_counts[len(plte):].sum()) != 0:
            return None  # index past the palette — corrupt stream
        counts = idx_counts[:len(plte)]
        pr, pg, pb = (
            int(counts @ plte[:, c].astype(np.int64)) for c in range(3))
        return {"n_px": w * h, "sum_r": pr, "sum_g": pg, "sum_b": pb}
    if colortype in (0, 4):  # gray(+alpha) → r = g = b
        s = int(sums[0])
        return {"n_px": w * h, "sum_r": s, "sum_g": s, "sum_b": s}
    return {"n_px": w * h, "sum_r": int(sums[0]), "sum_g": int(sums[1]),
            "sum_b": int(sums[2])}


# Per-image pixel cap for JPEG. Entropy (Huffman) decode is a pure-Python
# per-symbol loop like GIF's LZW, so JPEG shares GIF's 4 MP budget rather
# than PNG's 16 MP; additionally the entropy-coded scan BYTES are capped
# (decode cost is O(scan bits), and a crafted 4 MP image could still carry
# an arbitrarily long scan). Images over either cap fall to the stub.
_JPEG_PX_BUDGET = 4_000_000
_JPEG_SCAN_BUDGET = 1 << 20  # 1 MiB of entropy-coded bytes


def _jpeg_zigzag():
    """The JPEG zigzag scan as flat 8x8 indices, generated from the
    diagonal-walk definition (ITU T.81 Figure 5) rather than hand-typed:
    diagonal s = row+col; odd diagonals walk row-ascending, even ones
    row-descending."""
    order = []
    for s in range(15):
        rng = range(max(0, s - 7), min(7, s) + 1)
        for r in (rng if s % 2 else reversed(rng)):
            order.append(r * 8 + (s - r))
    return order


_ZIGZAG = _jpeg_zigzag()

_IDCT_BASIS = None


def _jpeg_idct_basis():
    """Orthonormal 8-point DCT basis M with M[u,x] = c(u)/2 ·
    cos((2x+1)uπ/16), c(0)=1/√2 else 1, so the 2-D inverse is the pure
    matrix form f = Mᵀ F M (T.81 A.3.3). Cached module-wide."""
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import math

        import numpy as np

        m = np.zeros((8, 8))
        for u in range(8):
            cu = 0.5 / math.sqrt(2.0) if u == 0 else 0.5
            for x in range(8):
                m[u, x] = cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
        _IDCT_BASIS = m
    return _IDCT_BASIS


def _jpeg_build_huffman(bits, vals):
    """Canonical Huffman decode tables from a DHT's BITS/HUFFVAL
    (T.81 C.2/F.2.2.3): per-length MINCODE/MAXCODE/VALPTR plus an 8-bit
    prefix LUT so short codes decode in one probe. Returns None for an
    over-subscribed code (Kraft violation) — corrupt table."""
    if sum(bits) != len(vals) or len(vals) > 256:
        return None
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    lut = [None] * 256
    code = 0
    k = 0
    for ln in range(1, 17):
        n = bits[ln - 1]
        if n:
            valptr[ln] = k
            mincode[ln] = code
            for _ in range(n):
                if code >= (1 << ln):
                    return None  # more codes than the length can hold
                if ln <= 8:
                    base = code << (8 - ln)
                    for f in range(1 << (8 - ln)):
                        lut[base + f] = (vals[k], ln)
                code += 1
                k += 1
            maxcode[ln] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, list(vals), lut


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment: un-stuffs
    0xFF00, stops at any marker (exposing it via .marker), and counts
    consumed scan bytes against the caller's budget."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker", "consumed", "budget")

    def __init__(self, data: bytes, pos: int, budget: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None
        self.consumed = 0
        self.budget = budget

    def _fill(self) -> bool:
        """Pull one more data byte into acc; False at a marker / EOF /
        exhausted budget."""
        if self.marker is not None:
            return False
        d = self.data
        i = self.pos
        if i >= len(d):
            return False
        b = d[i]
        if b == 0xFF:
            j = i + 1
            while j < len(d) and d[j] == 0xFF:  # fill bytes before a marker
                j += 1
            if j >= len(d):
                return False
            nxt = d[j]
            if nxt == 0x00:  # stuffed data 0xFF
                self.pos = j + 1
            else:
                self.marker = nxt
                self.pos = j + 1
                return False
        else:
            self.pos = i + 1
        self.consumed += 1
        if self.consumed > self.budget:
            self.marker = -1  # budget sentinel — treated as corrupt upstream
            return False
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read_bits(self, n: int):
        while self.nbits < n:
            if not self._fill():
                return None
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, tab):
        """Decode one Huffman symbol: an 8-bit prefix-LUT probe first
        (consumes nothing on a miss), else the per-length bit-serial
        MINCODE/MAXCODE walk (T.81 F.16) from the same position."""
        mincode, maxcode, valptr, vals, lut = tab
        while self.nbits < 8:
            if not self._fill():
                break
        if self.nbits >= 8:
            hit = lut[(self.acc >> (self.nbits - 8)) & 0xFF]
            if hit is not None:
                sym, ln = hit
                self.nbits -= ln
                self.acc &= (1 << self.nbits) - 1
                return sym
        code = 0
        for ln in range(1, 17):
            b = self.read_bits(1)
            if b is None:
                return None
            code = (code << 1) | b
            if maxcode[ln] >= 0 and mincode[ln] <= code <= maxcode[ln]:
                return vals[valptr[ln] + code - mincode[ln]]
        return None

    def receive_extend(self, t: int):
        """RECEIVE + EXTEND (T.81 F.12): t magnitude bits → signed value."""
        if t == 0:
            return 0
        v = self.read_bits(t)
        if v is None:
            return None
        if v < (1 << (t - 1)):
            v += (-1 << t) + 1
        return v

    def align_and_take_marker(self):
        """Byte-align (discarding <8 pad bits) and return the pending
        marker, or None if whole data bytes remain / no marker pending."""
        self.nbits -= self.nbits % 8
        self.acc &= (1 << self.nbits) - 1
        if self.nbits >= 8:
            return None  # unconsumed data bytes where a marker must sit
        if self.marker is None and self._fill():
            return None  # a data byte where the marker must sit
        m = self.marker
        self.marker = None
        return m


def _jpeg_decode_scan(data, pos, w, h, scan, qtabs, htabs, ri):
    """Decode one baseline sequential scan starting at ``pos`` (first
    entropy-coded byte after the SOS header): Huffman-decode every MCU's
    blocks (DC prediction + RECEIVE/EXTEND, AC run/size with ZRL/EOB,
    restart markers resetting predictors), dequantize in zigzag order,
    de-zigzag, batch-IDCT per component via the orthonormal basis
    (vectorized einsum — the per-block math never touches Python), then
    crop → upsample chroma (nearest, T.81 sample-replication) → crop to
    (h, w) and convert. Returns the channel-sum dict or None."""
    import numpy as np

    if len(scan) == 1:
        # non-interleaved single-component scan: MCU is one block and
        # the component keeps full resolution (T.81 A.2.2)
        scan[0]["h"] = scan[0]["v"] = 1
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in scan:
        if c["tq"] not in qtabs or (0, c["td"]) not in htabs \
                or (1, c["ta"]) not in htabs:
            return None
        c["nbx"] = mcux * c["h"]
        c["nby"] = mcuy * c["v"]
        c["coef"] = np.zeros((c["nby"] * c["nbx"], 64), dtype=np.int32)
        c["pred"] = 0
    rd = _JpegBitReader(data, pos, _JPEG_SCAN_BUDGET)
    rst_expect = 0
    for mi in range(mcux * mcuy):
        if ri and mi and mi % ri == 0:
            m = rd.align_and_take_marker()
            if m is None or m != 0xD0 + rst_expect:
                return None
            rst_expect = (rst_expect + 1) % 8
            for c in scan:
                c["pred"] = 0
        my, mx = divmod(mi, mcux)
        for c in scan:
            dctab = htabs[(0, c["td"])]
            actab = htabs[(1, c["ta"])]
            for bi in range(c["v"]):
                for bj in range(c["h"]):
                    t = rd.huff(dctab)
                    if t is None or t > 11:  # 8-bit DC category cap (F.1.2.1.1)
                        return None
                    diff = rd.receive_extend(t)
                    if diff is None:
                        return None
                    c["pred"] += diff
                    row = c["coef"][
                        (my * c["v"] + bi) * c["nbx"] + mx * c["h"] + bj]
                    row[0] = c["pred"]
                    k = 1
                    while k < 64:
                        rs = rd.huff(actab)
                        if rs is None:
                            return None
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:  # ZRL — skip 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        if s > 10:  # 8-bit AC size cap (F.1.2.2.1)
                            return None
                        k += r
                        if k > 63:
                            return None
                        v = rd.receive_extend(s)
                        if v is None:
                            return None
                        row[k] = v
                        k += 1
    return _jpeg_finalize(w, h, scan, qtabs, hmax, vmax)


def _jpeg_finalize(w, h, comps, qtabs, hmax, vmax):
    """Dequantize, batch-IDCT, assemble/crop/upsample planes and convert
    — shared by the sequential path and the progressive multi-scan path
    (which calls it once after the last scan)."""
    import numpy as np

    m = _jpeg_idct_basis()
    zig = np.asarray(_ZIGZAG, dtype=np.int64)
    planes = []
    for c in comps:
        if c["tq"] not in qtabs:
            return None  # progressive streams may defer DQT; must exist now
        deq = c["coef"] * qtabs[c["tq"]][None, :]  # both in zigzag order
        spat = np.zeros(deq.shape, dtype=np.float64)
        spat[:, zig] = deq  # de-zigzag + int→float in one write
        # f = MᵀFM per block — batched BLAS matmul over the block axis
        # (~3× faster than the equivalent einsum at 60k+ blocks)
        out = m.T @ spat.reshape(-1, 8, 8) @ m
        plane = (
            out.reshape(c["nby"], c["nbx"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["nby"] * 8, c["nbx"] * 8)
        )
        plane = np.clip(np.floor(plane + 128.0 + 0.5), 0, 255)
        cw = -(-w * c["h"] // hmax)  # component dims (T.81 A.1.1 ceil)
        ch_ = -(-h * c["v"] // vmax)
        plane = plane[:ch_, :cw]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:  # grayscale: r = g = b
        s = int(planes[0].astype(np.int64).sum())
        return {"n_px": w * h, "sum_r": s, "sum_g": s, "sum_b": s}
    y, cb, cr = planes  # JFIF component order Y, Cb, Cr
    # floor(x + 0.5) rounding, mirrored EXACTLY (same double-op order) by
    # the mm_jpeg_pixels oracle's SQL — both engines do IEEE-754 doubles
    r = np.clip(np.floor(y + 1.402 * (cr - 128.0) + 0.5), 0, 255)
    g = np.clip(np.floor(
        y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5), 0, 255)
    b = np.clip(np.floor(y + 1.772 * (cb - 128.0) + 0.5), 0, 255)
    return {"n_px": w * h,
            "sum_r": int(r.astype(np.int64).sum()),
            "sum_g": int(g.astype(np.int64).sum()),
            "sum_b": int(b.astype(np.int64).sum())}


def _jpeg_entropy_end(p: bytes, pos: int):
    """Index of the first REAL marker (not a stuffed 0xFF00, not an RST,
    not fill bytes) at/after ``pos`` — how the progressive multi-scan
    walk resumes after a scan's entropy data. None if the stream ends
    first."""
    n = len(p)
    i = pos
    while i + 1 < n:
        if p[i] != 0xFF:
            i += 1
        elif p[i + 1] == 0x00:
            i += 2
        elif 0xD0 <= p[i + 1] <= 0xD7:
            i += 2
        elif p[i + 1] == 0xFF:
            i += 1
        else:
            return i
    return None


def _jpeg_scan_progressive(p, pos, scan, params, htabs, ri,
                           mcux, mcuy, budget):
    """Decode ONE progressive scan (T.81 G.2) into the components'
    persistent coefficient arrays. ``scan`` lists the participating
    components (already carrying full-grid coef storage and, for
    single-component scans, their non-interleaved grid nbx_ni/nby_ni);
    ``params`` = (Ss, Se, Ah, Al). Handles DC first (diff << Al) and DC
    refinement (one raw bit per block), AC first with EOBRUN, and AC
    refinement with interleaved correction bits — the libjpeg
    decode_mcu_AC_refine bit order. ``budget`` is the REMAINING
    entropy-byte allowance shared across the image's scans (cumulative
    — a many-scan stream cannot multiply the per-image CPU bound).
    Returns the scan's consumed byte count, or None."""
    ss, se, ah, al = params
    rd = _JpegBitReader(p, pos, budget)
    interleaved = len(scan) > 1
    if ss == 0:
        if se != 0 or (ah and ah != al + 1) or al > 13:
            return None  # DC scan shape (G.1.1.1.1)
        dctabs = {}
        for c in scan:
            if ah == 0:
                tab = htabs.get((0, c["td"]))
                if tab is None:
                    return None
                dctabs[c["id"]] = tab
            c["pred"] = 0
        if interleaved:
            units = mcux * mcuy
        else:
            units = scan[0]["nbx_ni"] * scan[0]["nby_ni"]
        rst_expect = 0
        for mi in range(units):
            if ri and mi and mi % ri == 0:
                mk = rd.align_and_take_marker()
                if mk is None or mk != 0xD0 + rst_expect:
                    return None
                rst_expect = (rst_expect + 1) % 8
                for c in scan:
                    c["pred"] = 0
            for c in scan:
                if interleaved:
                    my, mx = divmod(mi, mcux)
                    blocks = [
                        (my * c["v"] + bi) * c["nbx"] + mx * c["h"] + bj
                        for bi in range(c["v"]) for bj in range(c["h"])]
                else:
                    by, bx = divmod(mi, c["nbx_ni"])
                    blocks = [by * c["nbx"] + bx]
                for idx in blocks:
                    row = c["coef"][idx]
                    if ah == 0:
                        t = rd.huff(dctabs[c["id"]])
                        if t is None or t > 11:
                            return None
                        diff = rd.receive_extend(t)
                        if diff is None:
                            return None
                        c["pred"] += diff
                        row[0] = c["pred"] << al
                    else:
                        bit = rd.read_bits(1)
                        if bit is None:
                            return None
                        if bit:
                            row[0] = int(row[0]) | (1 << al)
        return rd.consumed
    # AC scan: always single-component (G.1.1.1.1)
    if interleaved or ss > se or se > 63 or (ah and ah != al + 1) or al > 13:
        return None
    c = scan[0]
    actab = htabs.get((1, c["ta"]))
    if actab is None:
        return None
    p1 = 1 << al
    m1 = -1 << al
    eobrun = 0
    rst_expect = 0
    units = c["nbx_ni"] * c["nby_ni"]
    for mi in range(units):
        if ri and mi and mi % ri == 0:
            mk = rd.align_and_take_marker()
            if mk is None or mk != 0xD0 + rst_expect:
                return None
            rst_expect = (rst_expect + 1) % 8
            eobrun = 0
        by, bx = divmod(mi, c["nbx_ni"])
        row = c["coef"][by * c["nbx"] + bx]
        if ah == 0:  # AC first pass (G.2.2: EOBRUN bands)
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = rd.huff(actab)
                if rs is None:
                    return None
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        b = rd.read_bits(r)
                        if b is None:
                            return None
                        eobrun += b
                    break
                if s > 10:
                    return None
                k += r
                if k > se:
                    return None
                v = rd.receive_extend(s)
                if v is None:
                    return None
                row[k] = v << al
                k += 1
        else:  # AC refinement (libjpeg decode_mcu_AC_refine bit order)
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = rd.huff(actab)
                    if rs is None:
                        return None
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                b = rd.read_bits(r)
                                if b is None:
                                    return None
                                eobrun += b
                            break
                        # ZRL: r stays 15 → skip 16 zero-history coeffs
                    elif s == 1:
                        bit = rd.read_bits(1)
                        if bit is None:
                            return None
                        newval = p1 if bit else m1
                    else:
                        return None  # refinement size must be 1
                    while k <= se:
                        cur = int(row[k])
                        if cur != 0:
                            bit = rd.read_bits(1)
                            if bit is None:
                                return None
                            if bit and (cur & p1) == 0:
                                row[k] = cur + (p1 if cur >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval:
                        if k > se:
                            return None
                        row[k] = newval
                    k += 1
            if eobrun > 0:
                # correction bits for the rest of the band, then count
                # this block against the run. Fast path (r8 ADVICE): a
                # band with no nonzero history reads no correction bits,
                # so the per-coefficient Python walk is a no-op — detect
                # that with one vectorized check instead of 63
                # interpreted iterations (a crafted EOBn-only multi-scan
                # stream otherwise costs ~20us/block/scan while
                # consuming zero entropy bytes, dodging the scan budget)
                if row[k:se + 1].any():
                    while k <= se:
                        cur = int(row[k])
                        if cur != 0:
                            bit = rd.read_bits(1)
                            if bit is None:
                                return None
                            if bit and (cur & p1) == 0:
                                row[k] = cur + (p1 if cur >= 0 else m1)
                        k += 1
                eobrun -= 1
    return rd.consumed


def _parse_jpeg_pixels(p: bytes):
    """REAL pixel decode for Huffman-coded JPEG — baseline/extended
    sequential (SOF0/SOF1) AND progressive (SOF2) — using ONLY numpy +
    pure Python, no codec library: walk the marker stream (DQT/DHT/SOF/
    DRI/SOS, APPn and COM skipped), Huffman-decode the scan(s) with
    byte-unstuffing and restart-marker handling, dequantize, inverse-DCT
    every block through one vectorized matmul per component, upsample
    chroma by sample replication and convert JFIF YCbCr→RGB. Progressive
    streams accumulate coefficient state across scans (DC first/refine
    successive approximation, AC first with EOBRUN, AC refinement with
    interleaved correction bits — _jpeg_scan_progressive) and finalize
    once at EOI. Grayscale (1 component) and 3-component images with
    sampling factors in {1,2} (4:4:4, 4:2:0, 4:2:2, 4:4:0) are
    supported. Returns None — falling through to the documented stub —
    for arithmetic-coded, hierarchical, lossless, 12/16-bit,
    4-component (CMYK) or corrupt streams.

    Untrusted-corpus bounds: declared dimensions are checked against
    ``_JPEG_PX_BUDGET`` BEFORE any entropy work, and the entropy-coded
    byte count is capped at ``_JPEG_SCAN_BUDGET`` inside the bit reader
    (Huffman decode is a pure-Python per-symbol loop, so its CPU is
    O(scan bits) — the same executor-stall class the GIF/PNG budgets
    bound). A dimension lie either way is safe: oversized declared MCU
    grids starve the reader into None; undersized ones leave trailing
    entropy bytes unread."""
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return None
    import numpy as np

    qtabs: dict = {}
    htabs: dict = {}
    sof = None
    progressive = False
    geom = None  # progressive coefficient state, allocated at first SOS
    scans_done = 0
    scan_budget = _JPEG_SCAN_BUDGET  # shared by ALL progressive scans
    ri = 0
    i = 2
    n = len(p)
    while i + 4 <= n:
        if p[i] != 0xFF:
            return None
        m = p[i + 1]
        if m == 0xFF:  # fill byte before a marker
            i += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            if progressive and scans_done:
                w, h, comps = sof
                hmax, vmax = geom
                return _jpeg_finalize(w, h, comps, qtabs, hmax, vmax)
            return None  # EOI before any decodable scan
        seglen = int.from_bytes(p[i + 2:i + 4], "big")
        if seglen < 2 or i + 2 + seglen > n:
            return None
        seg = p[i + 4:i + 2 + seglen]
        if m == 0xDB:  # DQT — possibly several tables per segment
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                if pq != 0 or tq > 3 or j + 65 > len(seg):
                    return None  # 16-bit quant tables are not baseline
                qtabs[tq] = np.frombuffer(
                    seg[j + 1:j + 65], dtype=np.uint8).astype(np.int32)
                j += 65
        elif m == 0xC4:  # DHT — possibly several tables per segment
            j = 0
            while j + 17 <= len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                if tc > 1 or th > 3:
                    return None
                bits = list(seg[j + 1:j + 17])
                cnt = sum(bits)
                if j + 17 + cnt > len(seg):
                    return None
                tab = _jpeg_build_huffman(
                    bits, list(seg[j + 17:j + 17 + cnt]))
                if tab is None:
                    return None
                htabs[(tc, th)] = tab
                j += 17 + cnt
            if j != len(seg):
                return None
        elif m in (0xC0, 0xC1, 0xC2):  # sequential or progressive Huffman SOF
            if sof is not None or len(seg) < 6 or seg[0] != 8:
                return None
            progressive = m == 0xC2
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nf = seg[5]
            if nf not in (1, 3) or len(seg) != 6 + 3 * nf:
                return None
            comps = []
            for c in range(nf):
                hv = seg[7 + 3 * c]
                hs, vs = hv >> 4, hv & 15
                tq = seg[8 + 3 * c]
                if hs not in (1, 2) or vs not in (1, 2) or tq > 3:
                    return None
                comps.append(
                    {"id": seg[6 + 3 * c], "h": hs, "v": vs, "tq": tq})
            if len({c["id"] for c in comps}) != nf:
                return None
            if w <= 0 or h <= 0 or w * h > _JPEG_PX_BUDGET:
                return None
            sof = (w, h, comps)
        elif 0xC3 <= m <= 0xCF and m != 0xC4 and m != 0xC8 and m != 0xCC:
            return None  # arithmetic / lossless / hierarchical / 12-bit
        elif m == 0xDD:  # DRI
            if len(seg) != 2:
                return None
            ri = int.from_bytes(seg, "big")
        elif m == 0xDA:  # SOS
            if sof is None or len(seg) < 4:
                return None
            w, h, comps = sof
            ns = seg[0]
            if ns < 1 or ns > len(comps) or len(seg) != 1 + 2 * ns + 3:
                return None
            byid = {c["id"]: c for c in comps}
            scan = []
            for c in range(ns):
                comp = byid.get(seg[1 + 2 * c])
                if comp is None or comp in scan:
                    return None
                tt = seg[2 + 2 * c]
                comp["td"], comp["ta"] = tt >> 4, tt & 15
                scan.append(comp)
            ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            if not progressive:
                if ns != len(comps) or ss != 0 or se != 63 or a != 0:
                    return None  # sequential = one full interleaved scan
                return _jpeg_decode_scan(
                    p, i + 2 + seglen, w, h, scan, qtabs, htabs, ri)
            if geom is None:  # first scan: allocate coefficient state
                import numpy as np

                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                for c in comps:
                    c["nbx"] = mcux * c["h"]
                    c["nby"] = mcuy * c["v"]
                    cw = -(-w * c["h"] // hmax)
                    ch_ = -(-h * c["v"] // vmax)
                    c["nbx_ni"] = -(-cw // 8)  # non-interleaved grid
                    c["nby_ni"] = -(-ch_ // 8)
                    c["coef"] = np.zeros(
                        (c["nby"] * c["nbx"], 64), dtype=np.int32)
                geom = (hmax, vmax)
                geom_mcu = (mcux, mcuy)
            if scans_done >= 64 or scan_budget <= 0:
                return None  # a valid stream needs far fewer scans/bytes
            used = _jpeg_scan_progressive(
                p, i + 2 + seglen, scan, (ss, se, a >> 4, a & 15),
                htabs, ri, geom_mcu[0], geom_mcu[1], scan_budget)
            if used is None:
                return None
            scan_budget -= used  # CUMULATIVE across scans (CPU bound)
            scans_done += 1
            nxt = _jpeg_entropy_end(p, i + 2 + seglen)
            if nxt is None:
                return None  # stream ends inside entropy data (no EOI)
            i = nxt
            continue
        i += 2 + seglen  # APPn / COM / unknown: skip by declared length
    if progressive and scans_done:
        # stream ended at/before EOI (the 2-byte EOI falls below the
        # walk's 4-byte lookahead) — every scan already decoded
        w, h, comps = sof
        hmax, vmax = geom
        return _jpeg_finalize(w, h, comps, qtabs, hmax, vmax)
    return None


def _lzw_decode(data: bytes, min_code: int, max_out: int):
    """GIF-flavor LZW decode (LSB-first variable-width codes, clear/end
    codes, 12-bit table cap with deferred-clear tolerance). Pure Python —
    no codec library. Returns the decoded index bytes, or None on a
    corrupt stream or if output would exceed ``max_out`` (the CPU/memory
    bound for untrusted payloads: a crafted stream cannot emit more than
    the declared frame's pixel count)."""
    if not 1 <= min_code <= 8:
        return None  # GIF indices are bytes; a wider root table is corrupt
    clear = 1 << min_code
    end = clear + 1
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table = list(base)
    next_code = end + 1
    code_size = min_code + 1
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                next_code = end + 1
                code_size = min_code + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]
                else:
                    return None
                if next_code < 4096:
                    table.append(prev + entry[:1])
                    next_code += 1
                    if next_code == (1 << code_size) and code_size < 12:
                        code_size += 1
            out.extend(entry)
            if len(out) > max_out:
                return None
            prev = entry
    return bytes(out)  # tolerate a missing explicit end code


def _parse_gif_pixels(p: bytes):
    """REAL pixel decode for GIF87a/89a via pure-Python LZW (no codec
    library): walk the block stream past extensions to the FIRST image
    descriptor, decode its sub-block LZW payload against the active
    (local else global) color table, and sum channels via a bincount ×
    palette matmul. Row order (interlaced or not) does not affect sums,
    so no de-interlace pass is needed. Stats cover the first frame of an
    animation and count the GCE transparency index at its stored palette
    RGB — both documented curation-stat semantics, not a renderer.

    Untrusted-corpus bounds: frame dimensions are checked against
    ``_GIF_PX_BUDGET`` before any LZW work and the decoder hard-caps its
    output at w·h indices, so neither a dimension lie nor an LZW bomb
    can exceed the declared frame's memory/CPU. The GIF cap is LOWER
    than PNG's 16 MP (r6 ADVICE): _lzw_decode is a pure-Python per-code
    loop, so a max-dimension frame costs interpreter seconds the
    vectorized PNG path doesn't — the same executor-stall class
    _SCALAR_PX_BUDGET bounds. Frames above the cap degrade to the
    documented stub (~2-3 s worst-case decode at the cap)."""
    import numpy as np

    max_px = _GIF_PX_BUDGET
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        return None
    packed = p[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = p[pos:pos + 3 * n]
        if len(gct) < 3 * n:
            return None
        pos += 3 * n
    while pos < len(p):
        b0 = p[pos]
        if b0 == 0x21:  # extension: label + sub-blocks to terminator
            pos += 2
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            if pos + 10 > len(p):
                return None
            iw = int.from_bytes(p[pos + 5:pos + 7], "little")
            ih = int.from_bytes(p[pos + 7:pos + 9], "little")
            ipacked = p[pos + 9]
            pos += 10
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = p[pos:pos + 3 * n]
                if len(table) < 3 * n:
                    return None
                pos += 3 * n
            if table is None or iw <= 0 or ih <= 0 or iw * ih > max_px:
                return None
            if pos >= len(p):
                return None
            min_code = p[pos]
            pos += 1
            chunks = []
            while pos < len(p) and p[pos] != 0:
                ln = p[pos]
                chunks.append(p[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            idx = _lzw_decode(b"".join(chunks), min_code, iw * ih)
            if idx is None or len(idx) < iw * ih:
                return None
            pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
            counts = np.bincount(
                np.frombuffer(idx[:iw * ih], dtype=np.uint8), minlength=256)
            if int(counts[len(pal):].sum()) != 0:
                return None  # index past the palette — corrupt stream
            c = counts[:len(pal)].astype(np.int64)
            sr, sg, sb = (int(c @ pal[:, k].astype(np.int64)) for k in range(3))
            return {"n_px": iw * ih, "sum_r": sr, "sum_g": sg, "sum_b": sb}
        elif b0 == 0x3B:
            return None  # trailer before any image frame
        else:
            return None
    return None


def _pixel_stats(payload: bytes) -> dict:
    if payload is None or len(payload) == 0:
        parsed = None
    else:
        b = bytes(payload)
        parsed = _parse_bmp_pixels(b)
        if parsed is None:
            parsed = _parse_png_pixels(b)
        if parsed is None:
            parsed = _parse_gif_pixels(b)
        if parsed is None:
            parsed = _parse_jpeg_pixels(b)
    if parsed is None:
        return {"n_px": 0, "sum_r": 0, "sum_g": 0, "sum_b": 0, "mean_lum": None}
    lum = (
        0.299 * parsed["sum_r"] + 0.587 * parsed["sum_g"] + 0.114 * parsed["sum_b"]
    ) / parsed["n_px"]
    return {**parsed, "mean_lum": lum}


# Per-clip cap on total samples (frames × channels) for WAV decode: the
# decode itself is one vectorized numpy pass, so this bounds MEMORY (a
# crafted RIFF length cannot drive a multi-GB frombuffer), not a Python
# loop. 16M samples ≈ 5.8 min of 48 kHz stereo ≈ 64 MB of int64 staging.
_WAV_SAMPLE_BUDGET = 16_000_000

AUDIO_SCHEMA = (
    "url string, n_frames long, n_channels long, sample_rate long, "
    "sum_abs long, sum_sq long, zero_cross long, rms double"
)


def _parse_wav_stats(p: bytes):
    """REAL audio decode for PCM16 RIFF/WAVE using ONLY numpy — no codec
    library (canonical WAV is a struct walk plus a raw little-endian
    int16 sample array): walk the word-aligned RIFF chunk list (unknown
    chunks like LIST/INFO skipped by declared length), require an
    integer-PCM ``fmt `` (format 1, 16-bit), then one vectorized pass
    over the ``data`` samples → amplitude sums, energy, and per-channel
    zero crossings (adjacent frames whose signs differ). Returns None —
    falling to the documented stub — for float/ADPCM/compressed formats,
    other bit depths, truncated chunks, or clips over the sample budget.
    Trailing partial frames (a data chunk not a multiple of the frame
    size) are dropped, matching common reader behavior."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    import numpy as np

    fmt = None
    data = None
    i = 12
    n = len(p)
    while i + 8 <= n and (fmt is None or data is None):
        cid = p[i:i + 4]
        ln = int.from_bytes(p[i + 4:i + 8], "little")
        body = p[i + 8:i + 8 + ln]
        if len(body) < ln:
            return None  # truncated chunk
        if cid == b"fmt ":
            if ln < 16:
                return None
            audio_fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16 or channels == 0 or rate == 0:
                return None  # float/ADPCM/compressed → the codec-lib seam
            fmt = (channels, rate)
        elif cid == b"data":
            data = body
        i += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        return None
    channels, rate = fmt
    frames = len(data) // (2 * channels)
    if frames == 0 or frames * channels > _WAV_SAMPLE_BUDGET:
        return None
    s = (
        np.frombuffer(data, dtype="<i2", count=frames * channels)
        .astype(np.int64)
        .reshape(frames, channels)
    )
    neg = s < 0
    nsamp = frames * channels
    sum_sq = int((s * s).sum())
    import math

    return {
        "n_frames": frames,
        "n_channels": channels,
        "sample_rate": rate,
        "sum_abs": int(np.abs(s).sum()),
        "sum_sq": sum_sq,
        "zero_cross": int((neg[1:] != neg[:-1]).sum()),
        # sqrt is IEEE-correctly-rounded in both numpy/libm and DuckDB,
        # so the oracle reproduces this double exactly
        "rms": math.sqrt(sum_sq / nsamp),
    }


VIDEO_SCHEMA = (
    "url string, n_frames long, width long, height long, "
    "us_per_frame long, n_streams long, n_video long, n_audio long, "
    "fps double"
)


def _parse_avi_meta(p: bytes):
    """REAL video CONTAINER decode for RIFF AVI — metadata only, no codec
    library (the frame payloads are codec-compressed; decoding them is
    the documented ffmpeg seam): walk the nested RIFF LIST tree to the
    ``hdrl`` list, read the ``avih`` main header (frame count, dims,
    µs/frame, declared stream count) and count ``strh`` stream headers
    by fccType (``vids``/``auds``) — the metadata a curation pipeline
    filters on (duration, resolution, stream mix) before any frame work.
    Returns None for non-AVI RIFF (e.g. WAVE), truncated chunks, absent
    or short ``avih``, or implausible zero dims/frame timing. The walk
    is depth-capped and advances by declared lengths, so cost is
    O(header bytes) regardless of payload size."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        return None
    avih = None
    vids = auds = strh = 0

    def walk(lo: int, hi: int, depth: int) -> bool:
        nonlocal avih, vids, auds, strh
        if depth > 6:
            return False
        i = lo
        while i + 8 <= hi:
            cid = p[i:i + 4]
            ln = int.from_bytes(p[i + 4:i + 8], "little")
            if i + 8 + ln > hi:
                return False  # truncated chunk
            if cid == b"LIST":
                if ln < 4 or not walk(i + 12, i + 8 + ln, depth + 1):
                    return False
            elif cid == b"avih":
                if ln < 40:
                    return False
                avih = p[i + 8:i + 8 + ln]
            elif cid == b"strh":
                if ln < 4:
                    return False
                strh += 1
                fcc = p[i + 8:i + 12]
                if fcc == b"vids":
                    vids += 1
                elif fcc == b"auds":
                    auds += 1
            i += 8 + ln + (ln & 1)  # word alignment
        return True

    if not walk(12, len(p), 0) or avih is None:
        return None
    uspf = int.from_bytes(avih[0:4], "little")
    frames = int.from_bytes(avih[16:20], "little")
    streams = int.from_bytes(avih[24:28], "little")
    w = int.from_bytes(avih[32:36], "little")
    h = int.from_bytes(avih[36:40], "little")
    if uspf == 0 or w == 0 or h == 0:
        return None
    return {
        "n_frames": frames, "width": w, "height": h,
        "us_per_frame": uspf, "n_streams": streams,
        "n_video": vids, "n_audio": auds,
        # 1e6/uspf: one exact-int-to-double division, identical in both
        # engines; the oracle mirrors it verbatim
        "fps": 1000000.0 / uspf,
    }


def decode_video_meta(df: DataFrame, binary_col: str = "payload",
                      key_col: str = "url") -> DataFrame:
    """df(key, binary) → per-clip video container metadata via the same
    Arrow-batched mapInPandas shape as decode_audio_stats. REAL for RIFF
    AVI headers (no codec library needed for container metadata);
    frame-pixel decode and other containers (MP4/Matroska need full box/
    EBML parsers) yield the zero row until media libs exist — the
    documented ffmpeg swap seam."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = {"n_frames": 0, "width": 0, "height": 0, "us_per_frame": 0,
                 "n_streams": 0, "n_video": 0, "n_audio": 0, "fps": None}
        for pdf in batches:
            metas = []
            for payload in pdf[binary_col]:
                parsed = None
                if payload is not None and len(payload) > 0:
                    parsed = _parse_avi_meta(bytes(payload))
                metas.append(parsed if parsed is not None else dict(empty))
            out = pd.DataFrame(metas)
            out.insert(0, "url", list(pdf[key_col]))
            yield out

    return df.select(key_col, binary_col).mapInPandas(run, VIDEO_SCHEMA)


def decode_audio_stats(df: DataFrame, binary_col: str = "payload",
                       key_col: str = "url") -> DataFrame:
    """df(key, binary) → per-clip audio statistics via the same Arrow-
    batched mapInPandas shape as decode_pixel_stats. REAL for PCM16
    RIFF/WAVE (numpy over the raw sample array — no codec library);
    float/compressed formats yield n_frames=0 / NULL rms until codec
    libs exist (the documented ffmpeg swap seam)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = {"n_frames": 0, "n_channels": 0, "sample_rate": 0,
                 "sum_abs": 0, "sum_sq": 0, "zero_cross": 0, "rms": None}
        for pdf in batches:
            metas = []
            for payload in pdf[binary_col]:
                parsed = None
                if payload is not None and len(payload) > 0:
                    parsed = _parse_wav_stats(bytes(payload))
                metas.append(parsed if parsed is not None else dict(empty))
            out = pd.DataFrame(metas)
            out.insert(0, "url", list(pdf[key_col]))
            yield out

    return df.select(key_col, binary_col).mapInPandas(run, AUDIO_SCHEMA)


def decode_pixel_stats(df: DataFrame, binary_col: str = "payload",
                       key_col: str = "url") -> DataFrame:
    """df(key, binary) → per-image pixel statistics via the same Arrow-
    batched mapInPandas shape as decode_binary_column. Real for 24-bit
    uncompressed BMP (numpy over the raw pixel array), 8-bit PNG
    incl. palette + Adam7 (stdlib zlib + vectorized unfilter), GIF
    (pure-Python LZW), and Huffman-coded JPEG — baseline sequential AND
    progressive (pure-Python Huffman + vectorized numpy IDCT);
    arithmetic-coded/12-bit JPEG yields n_px=0 / NULL mean (COVERAGE.md
    multimodal row)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_pixel_stats(p) for p in pdf[binary_col]]
            out = pd.DataFrame(metas)
            out.insert(0, "url", list(pdf[key_col]))
            yield out

    return df.select(key_col, binary_col).mapInPandas(run, PIXEL_SCHEMA)


def downsample_plane(plane, factor: int):
    """REAL image resize — area-average (box) downsample of an RGB
    plane by an integer factor, in EXACT integer arithmetic: the image
    is cropped to factor multiples and each output pixel is the floor
    of the mean of its factor×factor block (block_sum // factor² —
    closed-form, which is what lets the mm_resize_stats oracle pin the
    resized pixels in SQL). Returns an (h//f, w//f, 3) int64 plane, or
    None when either cropped dimension would be zero."""
    import numpy as np

    f = int(factor)
    if f <= 0:  # guard BEFORE the division (r8 ADVICE: factor=0 crashed)
        return None
    hh, ww = plane.shape[0] // f, plane.shape[1] // f
    if hh == 0 or ww == 0:
        return None
    a = plane[:hh * f, :ww * f].astype(np.int64)
    return a.reshape(hh, f, ww, f, 3).sum(axis=(1, 3)) // (f * f)


RESIZE_SCHEMA = (
    "url string, out_w long, out_h long, sum_r long, sum_g long, sum_b long"
)


def resize_image_stats(df: DataFrame, factor: int = 2,
                       binary_col: str = "payload",
                       key_col: str = "url") -> DataFrame:
    """df(key, binary) → channel sums of the REAL area-average
    downsampled image (decodable planes: 24-bit BMP today), via the
    same Arrow-batched mapInPandas shape as the other decoders —
    closing the curation brief's 'resize' surface with genuine pixel
    math instead of a stub. Undecodable payloads yield the zero row
    (out_w = 0)."""
    from gossiphs_spark.operators import multimodal as _self

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = {"out_w": 0, "out_h": 0, "sum_r": 0, "sum_g": 0, "sum_b": 0}
        for pdf in batches:
            rows = []
            for payload in pdf[binary_col]:
                small = None
                if payload is not None and len(payload) > 0:
                    plane = _self._parse_bmp_plane(bytes(payload))
                    if plane is not None:
                        small = _self.downsample_plane(plane, factor)
                if small is None:
                    rows.append(dict(empty))
                else:
                    rows.append({
                        "out_w": small.shape[1], "out_h": small.shape[0],
                        "sum_r": int(small[:, :, 0].sum()),
                        "sum_g": int(small[:, :, 1].sum()),
                        "sum_b": int(small[:, :, 2].sum()),
                    })
            out = pd.DataFrame(rows)
            out.insert(0, "url", list(pdf[key_col]))
            yield out

    return df.select(key_col, binary_col).mapInPandas(run, RESIZE_SCHEMA)


AHASH_SCHEMA = "url string, is_real boolean, ahash_hi long, ahash_lo long"


def decode_image_ahash(df: DataFrame, binary_col: str = "payload",
                       key_col: str = "url") -> DataFrame:
    """df(key, binary) → REAL perceptual average-hash for decodable
    images (24-bit BMP planes today; the PNG/GIF/JPEG decoders could
    feed the same ahash64 once their plane — not just sums — is
    surfaced), via the same Arrow-batched mapInPandas shape as the other
    decoders. Non-decodable payloads fall back to the md5-derived
    stand-in with ``is_real = false`` — the same honest flagging the
    module docstring documents for the metadata path. Equal hashes ≡
    perceptually-identical 8x8 luminance structure, which makes
    groupBy(ahash) a REAL image near-dup operator (dd_image_phash)."""
    import hashlib

    from gossiphs_spark.operators import multimodal as _self

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for payload in pdf[binary_col]:
                plane = None
                if payload is not None and len(payload) > 0:
                    plane = _self._parse_bmp_plane(bytes(payload))
                if plane is not None:
                    hi, lo = _self.ahash64(plane)
                    out_rows.append({"is_real": True, "ahash_hi": hi,
                                     "ahash_lo": lo})
                else:
                    d = hashlib.md5(bytes(payload or b"")).digest()
                    out_rows.append({
                        "is_real": False,
                        "ahash_hi": int.from_bytes(d[0:4], "big"),
                        "ahash_lo": int.from_bytes(d[4:8], "big"),
                    })
            out = pd.DataFrame(out_rows)
            out.insert(0, "url", list(pdf[key_col]))
            yield out

    return df.select(key_col, binary_col).mapInPandas(run, AHASH_SCHEMA)


def decode_binary_column(df: DataFrame, binary_col: str = "payload",
                         key_col: str = "url") -> DataFrame:
    """df(key, binary) → typed metadata rows via mapInPandas.

    Arrow batch sizing matters for large blobs — the session sets
    spark.sql.execution.arrow.maxRecordsPerBatch low (2048) so a batch of
    multi-MB payloads stays within executor memory.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_image(p) for p in pdf[binary_col]]
            out = pd.DataFrame(metas)
            out.insert(0, "url", list(pdf[key_col]))
            yield out

    return df.select(key_col, binary_col).mapInPandas(run, DECODED_SCHEMA)
