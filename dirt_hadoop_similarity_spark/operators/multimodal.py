"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Decode is split at the line the formats themselves draw:

  * ``decode_metadata(decoder="real")`` performs REAL container-header
    decode, stdlib-only — PNG/JPEG/GIF/BMP dimensions and channel
    counts parsed from the header bytes (``_real_dims``), unknown or
    torn headers quarantined as NULL-metadata rows.  Header parsing
    never decompresses payloads, which is exactly how a 100 TB
    metadata pass works in production.
  * ``decode_pixels(decoder="real")`` performs REAL pixel/sample
    decode, dependency-free — PNG (zlib inflate + per-row unfilter +
    Adam7 + palette expansion), GIF (pure-Python LZW + palette +
    de-interlace), BMP (uncompressed 8/24/32-bit), WAV PCM, and
    JPEG in both Huffman forms — sequential AND progressive —
    (canonical Huffman + numpy IDCT + libjpeg-parity chroma
    upsampling, verified against javax.imageio) — emitting a uniform
    raw-tensor row.  Only arithmetic-coded/lossless JPEG remains
    codec-bound; those rows quarantine with real header dims + NULL
    pixels.
  * ``decoder="fake"`` (opt-in; what the synthetic testdata exercises
    — its payloads are utf-8 text, not image containers) derives
    deterministic metadata/features from md5(payload).  ``"real"`` is
    the DEFAULT on both entry points: a naive call on real media
    bytes gets the verified decoders, never silent pseudo-metadata.

Everything around that split is real, scale-correct Spark:

  * typed schema: (media_id, kind, payload BINARY, meta STRUCT);
  * Arrow-batched ``mapInPandas`` with bounded batch size — payloads
    never materialize on the driver and each task processes a bounded
    byte volume;
  * explode-style frame sampling keeps per-row output width constant.

At 100 TB the payload column dominates I/O: keep it in its own parquet
column (columnar pruning skips it unless selected) and size
``spark.sql.files.maxPartitionBytes`` so a task's batch of payloads fits
executor memory.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "media_id long, kind string, width int, height int, channels int, "
    "n_bytes long"
)

FEATURES_SCHEMA = "media_id long, feature array<float>"


def documents_as_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Adapter: wrap the synthetic documents table as a media table
    (payload = utf-8 bytes of text) so the plumbing is testable without
    real binaries."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_dims(payload: bytes) -> tuple[int, int, int]:
    """Deterministic pseudo-decode: dimensions derived from md5(payload)."""
    h = hashlib.md5(payload).digest()
    width = 64 + int.from_bytes(h[0:2], "big") % 1960
    height = 64 + int.from_bytes(h[2:4], "big") % 1960
    channels = 1 + h[4] % 4
    return width, height, channels


#: PNG color type → sample channels (PNG spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _real_dims(payload: bytes):
    """REAL image-header decode, stdlib-only: (width, height, channels)
    parsed from the container header of the four standard image formats
    — PNG (IHDR), JPEG (SOF segment walk), GIF (logical screen
    descriptor), BMP (BITMAPINFOHEADER).  Returns (None, None, None)
    for unknown magic or a torn/truncated header — the corrupt row
    keeps NULL metadata instead of failing the task, the same
    quarantine contract as NULL payloads.

    This is how a 100 TB media-metadata table is actually built: the
    dimensions live in the first few hundred bytes of every container,
    so metadata extraction never DECOMPRESSES pixel data — it reads
    headers at I/O speed.  Pixel decode (DCT/inflate/colorspace) is the
    one step that genuinely needs codec libraries absent from this
    container, and remains gated (decode_pixels below)."""
    import struct

    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            # IHDR is mandatory-first: width/height big-endian at 16,
            # bit depth at 24, color type at 25
            w, h = struct.unpack(">II", payload[16:24])
            return w, h, _PNG_CHANNELS.get(payload[25])
        if payload[:2] == b"\xff\xd8":  # JPEG SOI; walk the segments
            i = 2
            while i + 9 < len(payload):
                if payload[i] != 0xFF:
                    return None, None, None  # torn segment stream
                marker = payload[i + 1]
                if marker == 0xFF:
                    i += 1  # fill byte padding before a marker
                    continue
                if marker == 0xD9:  # EOI before any SOF
                    return None, None, None
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length
                    continue
                seglen = struct.unpack(">H", payload[i + 2:i + 4])[0]
                # SOF0-SOF15 minus DHT/JPG/DAC hold the frame header
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                    return w, h, payload[i + 9]
                i += 2 + seglen
            return None, None, None
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", payload[6:10])
            return w, h, 3  # palette entries are RGB
        if payload[:2] == b"BM":
            # dispatch on the DIB header size at 14: 'BM' magic alone
            # does not imply BITMAPINFOHEADER — an OS/2 BITMAPCOREHEADER
            # (size 12) packs 16-bit width/height at 18/20, and parsing
            # it with the 32-bit layout yields garbage dims (ADVICE r14)
            (dib,) = struct.unpack("<I", payload[14:18])
            if dib == 12:  # OS/2 1.x BITMAPCOREHEADER
                w, h, _planes, bits = struct.unpack("<HHHH", payload[18:26])
                return w, h, max(1, bits // 8)
            if dib >= 40:  # BITMAPINFOHEADER and its V4/V5 extensions
                w, h, _planes, bits = struct.unpack("<iihH", payload[18:30])
                if w <= 0 or h == 0:  # width is signed but never valid <= 0
                    return None, None, None
                return w, abs(h), max(1, bits // 8)  # h<0 = top-down DIB
            return None, None, None  # unknown DIB variant: quarantine
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            return _webp_dims(payload)
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            return _tiff_dims(payload)
    except (struct.error, IndexError):
        return None, None, None
    return None, None, None  # unknown container


def _webp_dims(payload: bytes):
    """WebP (RIFF/WEBP) header decode, stdlib-only: all three chunk
    flavors — 'VP8 ' (lossy: 14-bit dims after the 0x9d012a sync code),
    'VP8L' (lossless: 14+14 bits packed after the 0x2F signature, +1
    bias, alpha flag in bit 28) and 'VP8X' (extended: 24-bit dims with
    +1 bias, alpha flag)."""
    import struct

    none = (None, None, None)
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
            return none
        tag = payload[12:16]
        if tag == b"VP8 ":
            if payload[23:26] != b"\x9d\x01\x2a":
                return none  # key-frame sync code missing: torn
            w, h = struct.unpack("<HH", payload[26:30])
            return w & 0x3FFF, h & 0x3FFF, 3
        if tag == b"VP8L":
            if payload[20] != 0x2F:
                return none
            (b,) = struct.unpack("<I", payload[21:25])
            w = (b & 0x3FFF) + 1
            h = ((b >> 14) & 0x3FFF) + 1
            return w, h, 4 if (b >> 28) & 1 else 3
        if tag == b"VP8X":
            flags = payload[20]
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return w, h, 4 if flags & 0x10 else 3
        return none
    except (struct.error, IndexError):
        return none


def _tiff_dims(payload: bytes):
    """TIFF header decode, stdlib-only: both byte orders ('II'/'MM'),
    first-IFD walk for ImageWidth (256), ImageLength (257) and
    SamplesPerPixel (277, default 1).  SHORT values sit in the HIGH
    half of the big-endian inline value field — the classic TIFF
    parser trap."""
    import struct

    none = (None, None, None)
    try:
        if payload[:4] == b"II*\x00":
            e = "<"
        elif payload[:4] == b"MM\x00*":
            e = ">"
        else:
            return none
        (ifd,) = struct.unpack(e + "I", payload[4:8])
        (n,) = struct.unpack(e + "H", payload[ifd:ifd + 2])
        w = h = None
        spp = 1
        for k in range(n):
            off = ifd + 2 + 12 * k
            tag, typ = struct.unpack(e + "HH", payload[off:off + 4])
            if tag not in (256, 257, 277):
                continue
            if typ == 3:  # SHORT: inline in the first half (per order)
                (v,) = struct.unpack(e + "H", payload[off + 8:off + 10])
            elif typ == 4:  # LONG
                (v,) = struct.unpack(e + "I", payload[off + 8:off + 12])
            else:
                continue
            if tag == 256:
                w = v
            elif tag == 257:
                h = v
            else:
                spp = v
        if not w or not h:
            return none
        return w, h, spp
    except (struct.error, IndexError):
        return none


def _wav_meta(payload: bytes):
    """REAL WAV (RIFF/WAVE) header decode, stdlib-only: walk the chunk
    stream for 'fmt ' (channels, sample rate, bit depth) and 'data'
    (frame count = chunk size / block align).  Chunk sizes are padded
    to even offsets per the RIFF spec.  Returns (sample_rate, channels,
    bits, n_frames) or all-None for unknown magic / torn headers —
    the same NULL-row quarantine contract as :func:`_real_dims`.

    Only uncompressed sample streams are in scope: format codes 1
    (PCM), 3 (IEEE float) and 0xFFFE (WAVE_FORMAT_EXTENSIBLE) whose
    SubFormat GUID wraps 1 or 3 — an extensible header can wrap ADPCM
    just as well, so the tag alone is not a PCM guarantee.  A
    compressed RIFF payload (ADPCM, MP3-in-RIFF, …) has a block_align
    that is NOT bytes-per-frame, so reporting data_size / block_align
    as "frames" would be confidently wrong metadata (ADVICE r14) —
    those rows quarantine as all-None like any other out-of-scope
    codec."""
    import struct

    none = (None, None, None, None)
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return none
        i = 12
        fmt_code = rate = ch = bits = block = None
        n_frames = None
        while i + 8 <= len(payload):
            tag = payload[i:i + 4]
            size = struct.unpack("<I", payload[i + 4:i + 8])[0]
            if tag == b"fmt ":
                fmt_code, ch, rate, _br, block, bits = struct.unpack(
                    "<HHIIHH", payload[i + 8:i + 24])
                if fmt_code == 0xFFFE:
                    # WAVEFORMATEXTENSIBLE: SubFormat GUID Data1 (the
                    # wrapped format code) sits at offset 24 of the fmt
                    # data (16 base + cbSize 2 + validBits 2 +
                    # channelMask 4)
                    (fmt_code,) = struct.unpack(
                        "<I", payload[i + 8 + 24:i + 8 + 28])
            elif tag == b"data":
                if block:  # fmt is spec-required to precede data
                    # clamp to the bytes actually present: a torn
                    # stream whose declared data size extends past the
                    # payload reports the frames it truly carries, not
                    # an untorn-looking fabrication (ADVICE r15)
                    avail = max(len(payload) - (i + 8), 0)
                    n_frames = min(size, avail) // block
            i += 8 + size + (size & 1)  # RIFF even-padding rule
        if rate is None or fmt_code not in (1, 3):
            return none
        return rate, ch, bits, n_frames
    except (struct.error, IndexError):
        return none


PIXELS_SCHEMA = (
    "media_id long, kind string, width int, height int, channels int, "
    "pixels binary"
)

#: per-row raster budget for the real decoders: declared dims (or an
#: LZW/deflate stream expanding past them) beyond this quarantine
#: instead of allocating — a decompression bomb must cost its victim a
#: NULL row, never an executor (256 MiB ≈ a 9000x9000 RGBA frame,
#: far past any sane per-row media payload)
_MAX_RASTER_BYTES = 1 << 28

#: blocks per chunked-IDCT batch in the JPEG renderer: bounds the
#: float64 intermediates at ~8 MiB per array regardless of image size,
#: which is what lets the declared-dims budget sit at cap/8 (~11 MP
#: color) instead of cap/64
_IDCT_CHUNK = 16384


def _png_unfilter(raw: bytes, width: int, height: int, spp: int):
    """Reverse the PNG per-scanline filters (spec §9: None/Sub/Up/
    Average/Paeth) on the inflated stream.  8-bit depth only, so
    bytes-per-pixel == samples-per-pixel.  Returns the raster bytes or
    None for a wrong-length stream / unknown filter type."""
    stride = width * spp
    if len(raw) != height * (1 + stride):
        return None
    out = bytearray(height * stride)
    prev = bytes(stride)
    pos = 0
    for y in range(height):
        ft = raw[pos]
        row = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for i in range(spp, stride):
                row[i] = (row[i] + row[i - spp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = row[i - spp] if i >= spp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = row[i - spp] if i >= spp else 0
                b = prev[i]
                c = prev[i - spp] if i >= spp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            return None
        out[y * stride:(y + 1) * stride] = row
        prev = row
    return bytes(out)


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_adam7(raw: bytes, w: int, h: int, spp: int):
    """Unfilter and scatter an Adam7-interlaced inflated stream: each
    pass is an independently-filtered sub-image (PNG spec §8.2); empty
    passes contribute no scanlines.  Returns the top-down raster or
    None for a wrong-length stream."""
    out = bytearray(w * h * spp)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        sub_len = ph * (1 + pw * spp)
        sub = _png_unfilter(raw[pos:pos + sub_len], pw, ph, spp)
        if sub is None:
            return None
        pos += sub_len
        for j in range(ph):
            row = (y0 + j * ys) * w
            for i in range(pw):
                dst = (row + x0 + i * xs) * spp
                src = (j * pw + i) * spp
                out[dst:dst + spp] = sub[src:src + spp]
    if pos != len(raw):
        return None
    return bytes(out)


def _png_raster(payload: bytes):
    """REAL PNG pixel decode, stdlib-only (zlib inflate + per-row
    unfilter + palette expansion): (width, height, channels, raster) or
    None.  In scope: 8-bit depth, color types 0/2/3/4/6, both
    non-interlaced and Adam7-interlaced — everything the baseline
    encoder family emits.  Palette images expand through PLTE to RGB,
    so ``channels`` reports the RASTER's sample count (3), not the
    header's index count (1)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    try:
        w, h = struct.unpack(">II", payload[16:24])
        depth, color, comp, filt, interlace = payload[24:29]
        if depth != 8 or comp != 0 or filt != 0 or interlace not in (0, 1):
            return None  # 1/2/4/16-bit sample packing out of scope
        spp = _PNG_CHANNELS.get(color)
        if spp is None or w == 0 or h == 0:
            return None
        # chunk walk: concatenate IDAT, keep PLTE for color type 3
        idat, plte = [], None
        i = 8
        while i + 8 <= len(payload):
            (clen,) = struct.unpack(">I", payload[i:i + 4])
            tag = payload[i + 4:i + 8]
            data = payload[i + 8:i + 8 + clen]
            if len(data) != clen:
                return None  # torn chunk
            if tag == b"IDAT":
                idat.append(data)
            elif tag == b"PLTE":
                plte = data
            elif tag == b"IEND":
                break
            i += 12 + clen  # length + tag + data + CRC
        if not idat or (color == 3 and (plte is None or len(plte) % 3)):
            return None
        if interlace:  # one filter byte per PASS-scanline
            expected = sum(
                ph * (1 + pw * spp)
                for pw, ph in (
                    ((w - x0 + xs - 1) // xs, (h - y0 + ys - 1) // ys)
                    for x0, y0, xs, ys in _ADAM7
                )
                if pw > 0 and ph > 0
            )
        else:
            expected = h * (w * spp + 1)  # filter byte per scanline
        if expected > _MAX_RASTER_BYTES:
            return None  # declared dims past the per-row budget
        if color == 3 and w * h * 3 > _MAX_RASTER_BYTES:
            # palette output is 3x the index stream: budget the
            # POST-expansion raster like _gif_raster does, so the two
            # palette paths enforce the same effective ceiling
            # (ADVICE r15)
            return None
        # bounded inflate: a decompression bomb (tiny IDAT declaring
        # tiny dims but inflating to GiB) must quarantine BEFORE the
        # allocation, not OOM the executor — cap at expected+1 and
        # treat any overflow as corrupt
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected + 1)
        if len(raw) != expected or dec.unconsumed_tail:
            return None
        raster = (_png_adam7 if interlace else _png_unfilter)(
            raw, w, h, spp)
        if raster is None:
            return None
        if color == 3:  # palette indices -> RGB triples
            import numpy as np

            n = len(plte) // 3
            idx = np.frombuffer(raster, dtype=np.uint8)
            if idx.size and int(idx.max()) >= n:
                return None  # index past the palette: corrupt
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(n, 3)
            return w, h, 3, pal[idx].tobytes()
        return w, h, spp, raster
    except (struct.error, zlib.error, IndexError, ValueError):
        return None


def _bmp_raster(payload: bytes):
    """REAL BMP pixel decode, stdlib-only: (width, height, channels,
    raster) or None.  In scope: BI_RGB (uncompressed) BITMAPINFOHEADER
    at 8 (palette -> RGB), 24 (BGR -> RGB) and 32 (BGRA -> RGBA) bits.
    Rows are 4-byte padded and stored bottom-up unless height < 0; the
    returned raster is always top-down row-major."""
    import struct

    if payload[:2] != b"BM":
        return None
    try:
        (data_off,) = struct.unpack("<I", payload[10:14])
        (dib,) = struct.unpack("<I", payload[14:18])
        if dib < 40:
            return None  # OS/2 core header: metadata-only support
        w, h, _planes, bits = struct.unpack("<iihH", payload[18:30])
        (compression,) = struct.unpack("<I", payload[30:34])
        if compression != 0 or bits not in (8, 24, 32) or w <= 0 or h == 0:
            return None
        top_down = h < 0
        height = abs(h)
        bpp = bits // 8
        stride = (w * bpp + 3) & ~3
        if data_off + stride * height > len(payload):
            return None  # torn pixel array
        import numpy as np

        # vectorized row de-padding + channel swizzle: the former
        # per-pixel slice-reverse-join loop cost ~60 ms on a 512x384
        # frame — 200k interpreted byte ops for what is one strided
        # numpy view (~1 ms); same bytes out (BGR(A)->RGB(A), bottom-up
        # flip, palette expansion via a take() table)
        grid = np.frombuffer(
            payload, dtype=np.uint8, count=stride * height, offset=data_off
        ).reshape(height, stride)[:, : w * bpp]
        if not top_down:
            grid = grid[::-1]
        if bits == 8:
            (clr_used,) = struct.unpack("<I", payload[46:50])
            n = clr_used or 256
            pal = payload[14 + dib:14 + dib + 4 * n]
            if len(pal) != 4 * n:
                return None
            if int(grid.max(initial=0)) >= n:
                return None  # index past the palette: torn/hostile
            table = np.frombuffer(pal, dtype=np.uint8).reshape(n, 4)
            out = table[:, 2::-1][grid]  # BGR0 entries -> RGB
        else:
            px = grid.reshape(height, w, bpp)
            if bits == 24:  # BGR -> RGB
                out = px[:, :, ::-1]
            else:  # BGRA -> RGBA
                out = px[:, :, [2, 1, 0, 3]]
        return w, height, 3 if bits != 32 else 4, np.ascontiguousarray(
            out
        ).tobytes()
    except (struct.error, IndexError):
        return None


def _gif_lzw_decode(data: bytes, min_code_size: int,
                    max_out: int | None = None):
    """Decode a GIF LZW code stream (sub-blocks already concatenated)
    to palette-index bytes, or None for a torn/corrupt stream.  The
    mainstream width convention (giflib / PIL): codes are read
    LSB-first at ``width`` bits, and width grows when the table size
    reaches 2**width, capped at 12 bits (a full table then emits
    12-bit codes unchanged until a CLEAR — the "deferred clear" rule).

    Bits feed a rolling byte accumulator — O(stream) total, never
    "whole stream as one big int >> pos" (that copies the remaining
    bits per code: quadratic, a multi-MB GIF would hang the task) —
    and ``max_out`` stops decode once the frame's pixel count is
    reached, so a stream expanding past its declared dims costs its
    row a quarantine, not the executor an allocation."""
    if not 2 <= min_code_size <= 11:
        return None
    clear = 1 << min_code_size
    end = clear + 1
    acc = nacc = ptr = 0
    width = min_code_size + 1
    table: list[bytes] = []
    prev = None
    out = bytearray()

    def reset():
        nonlocal width, table, prev
        width = min_code_size + 1
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        prev = None

    reset()
    while True:
        while nacc < width:
            if ptr >= len(data):
                # bits exhausted before an END code: real-world
                # encoders (e.g. the ubiquitous 1x1 tracking pixel)
                # omit END and mainstream decoders tolerate it —
                # return what decoded; the CALLER's pixel-count check
                # is the torn-stream gate
                return bytes(out)
            acc |= data[ptr] << nacc
            ptr += 1
            nacc += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        if code == clear:
            reset()
            continue
        if code == end:
            return bytes(out)
        if code < len(table) and code != clear and code != end:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None  # code past the table: corrupt
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if max_out is not None and len(out) >= max_out:
            return bytes(out)


def _gif_deinterlace(indices: bytes, w: int, h: int) -> bytes:
    """Reorder GIF interlaced rows (4 passes: every 8th from 0, every
    8th from 4, every 4th from 2, every 2nd from 1) to top-down."""
    rows = [b""] * h
    src = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for y in range(start, h, step):
            rows[y] = indices[src * w:(src + 1) * w]
            src += 1
    return b"".join(rows)


def _gif_raster(payload: bytes):
    """REAL GIF pixel decode, stdlib-only: LZW (variable-width,
    LSB-first) is ~50 lines of plain Python, so unlike JPEG's
    Huffman+DCT it needs no codec library.  Decodes the FIRST image
    frame: (frame_width, frame_height, 3, RGB raster) or None.
    Palette indices expand through the active (local-over-global)
    color table; interlaced frames are reordered to top-down."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        packed = payload[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 7)
            gct = payload[pos:pos + 3 * n]
            if len(gct) != 3 * n:
                return None
            pos += 3 * n
        while pos < len(payload):
            b0 = payload[pos]
            if b0 == 0x3B:  # trailer before any image frame
                return None
            if b0 == 0x21:  # extension: label + sub-blocks
                pos += 2
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if b0 != 0x2C:  # unknown block type: corrupt
                return None
            _left, _top, iw, ih = struct.unpack("<HHHH", payload[pos + 1:pos + 9])
            ipacked = payload[pos + 9]
            pos += 10
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 7)
                pal = payload[pos:pos + 3 * n]
                if len(pal) != 3 * n:
                    return None
                pos += 3 * n
            if pal is None or iw == 0 or ih == 0:
                return None
            if iw * ih * 3 > _MAX_RASTER_BYTES:
                return None  # declared dims past the per-row budget
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                n = payload[pos]
                chunk = payload[pos + 1:pos + 1 + n]
                if len(chunk) != n:
                    return None
                data += chunk
                pos += 1 + n
            indices = _gif_lzw_decode(bytes(data), min_code,
                                      max_out=iw * ih)
            if indices is None or len(indices) < iw * ih:
                return None
            indices = indices[:iw * ih]
            npal = len(pal) // 3
            if (ipacked >> 6) & 1:
                indices = _gif_deinterlace(indices, iw, ih)
            # vectorized palette expansion (the _bmp_raster treatment):
            # range check + table take in numpy instead of two
            # per-pixel Python loops — same bytes out
            import numpy as np

            idx = np.frombuffer(bytes(indices), dtype=np.uint8)
            if int(idx.max(initial=0)) >= npal:
                return None  # index past the palette: corrupt
            table = np.frombuffer(pal, dtype=np.uint8).reshape(npal, 3)
            return iw, ih, 3, table[idx].tobytes()
        return None
    except (struct.error, IndexError):
        return None


def _jpeg_zigzag():
    """The JPEG zigzag scan as (natural index per zigzag position),
    DERIVED from the traversal rule instead of a memorized table:
    diagonals d = r+c in order, even diagonals walked bottom-left to
    top-right, odd ones top-right to bottom-left (ISO 10918-1 fig 5)."""
    order = []
    for d in range(15):
        rs = range(min(d, 7), max(0, d - 7) - 1, -1) if d % 2 == 0 \
            else range(max(0, d - 7), min(d, 7) + 1)
        order.extend(r * 8 + (d - r) for r in rs)
    return order


_ZIGZAG = _jpeg_zigzag()


def _jpeg_huff_table(bits, vals):
    """Canonical JPEG Huffman decode table from a DHT segment's BITS
    (symbol count per code length 1..16) and HUFFVAL.  Returns
    ``(codes, lut8)``: ``codes`` maps (length, code) -> symbol —
    the slow bit-at-a-time path; ``lut8`` is a 256-entry peek table
    resolving every code of <= 8 bits (the overwhelming majority of
    symbols in real streams) in ONE dict-free step — the r16 decode
    speedup (~2x on the Huffman-bound sequential path)."""
    table = {}
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    lut = [None] * 256
    for (ln, c), sym in table.items():
        if ln <= 8:
            base = c << (8 - ln)
            for suf in range(1 << (8 - ln)):
                lut[base | suf] = (sym, ln)
    return table, lut


def _jpeg_upsample(plane, fh_ratio, fv_ratio):
    """Chroma upsampling.  For the ubiquitous 2x cases this is
    libjpeg's "fancy" triangle filter bit-for-bit (3:1 weighted
    neighbors with the 1/2 and 8/7 rounding pairs, edges replicated) —
    the de-facto standard reconstruction javax.imageio/libjpeg emit, so
    the reference-codec parity tests can bound the remaining diff at
    IDCT rounding.  Other integer ratios fall back to box replication
    (the spec leaves the filter to the decoder)."""
    import numpy as np

    def tri_h(s):  # (H, W) -> (H, 2W)
        left = np.concatenate([s[:, :1], s[:, :-1]], axis=1)
        right = np.concatenate([s[:, 1:], s[:, -1:]], axis=1)
        out = np.empty((s.shape[0], s.shape[1] * 2), dtype=np.int32)
        out[:, 0::2] = (3 * s + left + 1) >> 2
        out[:, 1::2] = (3 * s + right + 2) >> 2
        return out

    def tri_v(s):  # (H, W) -> (2H, W)
        return tri_h(s.T).T

    p = plane.astype(np.int32)
    if (fh_ratio, fv_ratio) == (1, 1):
        return p
    if (fh_ratio, fv_ratio) == (2, 1):
        return tri_h(p)
    if (fh_ratio, fv_ratio) == (1, 2):
        return tri_v(p)
    if (fh_ratio, fv_ratio) == (2, 2):
        up = np.concatenate([p[:1], p[:-1]], axis=0)
        down = np.concatenate([p[1:], p[-1:]], axis=0)
        out_rows = []
        for cs in (3 * p + up, 3 * p + down):
            left = np.concatenate([cs[:, :1], cs[:, :-1]], axis=1)
            right = np.concatenate([cs[:, 1:], cs[:, -1:]], axis=1)
            row = np.empty((cs.shape[0], cs.shape[1] * 2), dtype=np.int32)
            row[:, 0::2] = (3 * cs + left + 8) >> 4
            row[:, 1::2] = (3 * cs + right + 7) >> 4
            out_rows.append(row)
        out = np.empty((p.shape[0] * 2, p.shape[1] * 2), dtype=np.int32)
        out[0::2] = out_rows[0]
        out[1::2] = out_rows[1]
        return out
    return p.repeat(fv_ratio, axis=0).repeat(fh_ratio, axis=1)


class _JpegBits:
    """MSB-first bit reader over a JPEG entropy-coded segment: 0xFF00
    unstuffs to a literal 0xFF; any other 0xFF-marker ends the stream
    (restart markers are consumed by the MCU loop via align())."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0

    def _fill(self):
        if self.p >= len(self.d):
            return False
        b = self.d[self.p]
        if b == 0xFF:
            nxt = self.d[self.p + 1] if self.p + 1 < len(self.d) else None
            if nxt != 0x00:
                return False  # a real marker: entropy data ends here
            self.p += 2
        else:
            self.p += 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        return True

    def receive(self, nbits: int):
        while self.n < nbits:
            if not self._fill():
                return None
        self.n -= nbits
        v = (self.acc >> self.n) & ((1 << nbits) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def huffdecode(self, table):
        codes, lut = table
        # fast path: peek 8 bits (without consuming) and resolve any
        # <=8-bit code in one table hit; falls through near stream end
        # or on a long code, where the peeked bits are still unread
        while self.n < 8:
            if not self._fill():
                break
        if self.n >= 8:
            e = lut[(self.acc >> (self.n - 8)) & 0xFF]
            if e is not None:
                sym, ln = e
                self.n -= ln
                self.acc &= (1 << self.n) - 1
                return sym
        code = 0
        for ln in range(1, 17):
            bit = self.receive(1)
            if bit is None:
                return None
            code = (code << 1) | bit
            sym = codes.get((ln, code))
            if sym is not None:
                return sym
        return None

    def align_to_restart(self):
        """Drop partial bits and consume one RSTn marker (the MCU loop
        calls this every DRI MCUs)."""
        self.acc = self.n = 0
        if (self.p + 1 < len(self.d) and self.d[self.p] == 0xFF
                and 0xD0 <= self.d[self.p + 1] <= 0xD7):
            self.p += 2
            return True
        return False


def _jpeg_extend(v: int, t: int) -> int:
    """ISO 10918-1 EXTEND: a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_dc_block(br, dc_t, block, preds, cid, ah, al):
    """One block's DC contribution: first pass decodes the Huffman
    magnitude + predictor diff (stored shifted by the scan's point
    transform); refinement passes OR in one correction bit."""
    if ah == 0:
        t = br.huffdecode(dc_t)
        if t is None or t > 15:
            return False
        diff = br.receive(t) if t else 0
        if diff is None:
            return False
        preds[cid] += _jpeg_extend(diff, t)
        block[0] = preds[cid] << al
    else:
        b = br.receive(1)
        if b is None:
            return False
        if b:
            block[0] |= 1 << al
    return True


def _jpeg_ac_first(br, ac_t, block, ss, se, al, eobrun):
    """One block's first AC pass over the zigzag band ss..se (ISO
    10918-1 G.1.2.2 / libjpeg decode_mcu_AC_first): run-length zeros,
    EOB-run accumulation across blocks, values shifted by ``al``.
    Returns the updated EOB run, or None on a torn/corrupt stream."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = br.huffdecode(ac_t)
        if rs is None:
            return None
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:
                k += 16
                continue
            eb = 1 << r
            if r:
                g = br.receive(r)
                if g is None:
                    return None
                eb += g
            return eb - 1  # this block closes the first run member
        k += r
        if k > se:
            return None
        v = br.receive(s)
        if v is None:
            return None
        block[k] = _jpeg_extend(v, s) << al
        k += 1
    return 0


def _jpeg_ac_refine(br, ac_t, block, ss, se, al, eobrun):
    """One block's AC refinement pass (ISO 10918-1 G.1.2.3 / libjpeg
    decode_mcu_AC_refine): already-nonzero coefficients absorb
    correction bits; runs count only zero-history positions; newly
    significant coefficients enter at ±2^al.  Returns the updated EOB
    run, or None on a torn/corrupt stream."""
    p1, m1 = 1 << al, -(1 << al)
    # the per-position loops below touch most of the band per call:
    # work on a plain-int list and write back once — numpy scalar
    # indexing in this loop dominated the whole progressive decode
    # before r16 (~4x the cost of the same loop over ints)
    blk = block.tolist()
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.huffdecode(ac_t)
            if rs is None:
                return None
            r, s = rs >> 4, rs & 15
            val = 0
            if s:
                if s != 1:
                    return None  # refinement magnitudes are single bits
                b = br.receive(1)
                if b is None:
                    return None
                val = p1 if b else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    g = br.receive(r)
                    if g is None:
                        return None
                    eobrun += g
                break  # correction sweep below finishes this block
            while k <= se:
                if blk[k] != 0:
                    b = br.receive(1)
                    if b is None:
                        return None
                    if b and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                b = br.receive(1)
                if b is None:
                    return None
                if b and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    block[:] = blk
    return eobrun


def _jpeg_seq_block(br, dc_t, ac_t, block, preds, cid):
    """One block of a SEQUENTIAL scan: DC diff then the full AC
    run-length band, straight into zigzag-order coefficients."""
    t = br.huffdecode(dc_t)
    if t is None or t > 15:
        return False
    diff = br.receive(t) if t else 0
    if diff is None:
        return False
    preds[cid] += _jpeg_extend(diff, t)
    block[0] = preds[cid]
    k = 1
    while k < 64:
        rs = br.huffdecode(ac_t)
        if rs is None:
            return False
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            return False
        v = br.receive(s)
        if v is None:
            return False
        block[k] = _jpeg_extend(v, s)
        k += 1
    return True


def _jpeg_decode_scan(br, scomps, ss, se, ah, al, progressive, coefs,
                      huff, dri, geom):
    """Decode one scan's entropy data into the per-component
    coefficient grids.  Interleaved scans (ns > 1) walk MCUs;
    non-interleaved scans walk the single component's own block grid
    (which can be SMALLER than the MCU-padded grid — padding blocks are
    simply never coded).  Restart markers reset DC predictors and the
    EOB run."""
    fw, fh, hmax, vmax, mcux, mcuy = geom
    interleaved = len(scomps) > 1
    if not interleaved:
        cid, td, ta, ch, cv = scomps[0]
        cw = -(-fw * ch // hmax)   # component width/height in samples
        chh = -(-fh * cv // vmax)
        bw = -(-cw // 8)           # the component's OWN block grid
        bh = -(-chh // 8)
        n_units = bw * bh
    else:
        n_units = mcux * mcuy
    preds = {c[0]: 0 for c in scomps}
    eobrun = 0
    for u in range(n_units):
        if dri and u and u % dri == 0:
            if not br.align_to_restart():
                return False
            preds = {c[0]: 0 for c in scomps}
            eobrun = 0
        for cid, td, ta, ch, cv in scomps:
            dc_t = huff.get((0, td))
            ac_t = huff.get((1, ta))
            n_blocks = ch * cv if interleaved else 1
            for b in range(n_blocks):
                if interleaved:
                    gy = (u // mcux) * cv + b // ch
                    gx = (u % mcux) * ch + b % ch
                else:
                    gy, gx = u // bw, u % bw
                block = coefs[cid][gy, gx]
                if not progressive:
                    if dc_t is None or ac_t is None:
                        return False
                    if not _jpeg_seq_block(br, dc_t, ac_t, block,
                                           preds, cid):
                        return False
                elif ss == 0:  # DC scan (se must be 0)
                    if se != 0 or (ah == 0 and dc_t is None):
                        return False
                    if not _jpeg_dc_block(br, dc_t, block, preds,
                                          cid, ah, al):
                        return False
                else:  # AC scan: spec requires ns == 1
                    if interleaved or ac_t is None:
                        return False
                    fn = _jpeg_ac_first if ah == 0 else _jpeg_ac_refine
                    eobrun = fn(br, ac_t, block, ss, se, al, eobrun)
                    if eobrun is None:
                        return False
    return True


def _jpeg_raster(payload: bytes):
    """REAL JPEG pixel decode — stdlib + numpy only: marker parse,
    canonical-Huffman entropy decode with byte-unstuffing and restart
    markers, dequantization, batched numpy IDCT (orthonormal DCT-II
    matrix pair), libjpeg-parity triangle chroma upsampling and BT.601
    YCbCr->RGB.  (width, height, channels, raster) or None.

    In scope: SEQUENTIAL Huffman (SOF0/SOF1 — what javax.imageio,
    libjpeg default paths and virtually all camera/web encoders emit)
    AND PROGRESSIVE Huffman (SOF2 — spectral-selection / successive-
    approximation scans with DC refinement and AC EOB-run semantics,
    accumulated into whole-image coefficient grids and rendered once
    at EOI).  8-bit samples, 1 or 3 components, integer sampling
    ratios, DRI/RST.  Arithmetic-coded streams (SOF9+, which mainstream
    encoders never emit) stay quarantined: header dims + NULL pixels
    via the caller's fallback.  Declared dims are budgeted at
    ``_MAX_RASTER_BYTES // 8`` samples (~11 MP color / ~33 MP gray —
    the whole-file coefficient grids progressive decode requires put a
    hard floor under peak memory); larger frames quarantine with header
    dims + NULL pixels rather than risk an executor OOM.  Verified in
    tests against the JVM's javax.imageio codec (the reference encoder
    AND an independent reference decode of the same bytes)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        return None
    try:
        qt = {}
        huff = {}
        frame = None
        progressive = False
        coefs = None
        geom = None
        dri = 0
        n_scans = 0
        adobe_transform = None
        i = 2
        while i + 2 <= len(payload):
            if payload[i] != 0xFF:
                return None
            m = payload[i + 1]
            if m == 0xFF:
                i += 1
                continue
            if m in (0x01, 0xD8) or 0xD0 <= m <= 0xD7:
                i += 2
                continue
            if m == 0xD9:
                break  # EOI
            (seglen,) = struct.unpack(">H", payload[i + 2:i + 4])
            seg = payload[i + 4:i + 2 + seglen]
            if len(seg) != seglen - 2:
                return None
            if m == 0xDB:  # DQT: one or more tables
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    p += 1
                    if pq == 0:
                        tbl = list(seg[p:p + 64])
                        p += 64
                    elif pq == 1:
                        tbl = list(struct.unpack(">64H", seg[p:p + 128]))
                        p += 128
                    else:
                        return None  # Pq is 0/1 only: corrupt segment
                    if len(tbl) != 64:
                        return None
                    qt[tq] = np.array(tbl, dtype=np.int64)
            elif m == 0xC4:  # DHT: one or more tables
                p = 0
                while p + 17 <= len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    bits = list(seg[p + 1:p + 17])
                    n = sum(bits)
                    vals = list(seg[p + 17:p + 17 + n])
                    if len(vals) != n:
                        return None
                    huff[(tc, th)] = _jpeg_huff_table(bits, vals)
                    p += 17 + n
            elif m in (0xC0, 0xC1, 0xC2):  # sequential / progressive
                if frame is not None:
                    return None
                progressive = m == 0xC2
                prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
                if prec != 8 or nc not in (1, 3) or fw == 0 or fh == 0:
                    return None
                comps = []
                for c in range(nc):
                    cid, hv, tq = seg[6 + c * 3:9 + c * 3]
                    comps.append((cid, hv >> 4, hv & 15, tq))
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                if hmax == 0 or vmax == 0:
                    return None
                if any(c[1] == 0 or c[2] == 0 or hmax % c[1] or vmax % c[2]
                       for c in comps):
                    return None
                if len({c[0] for c in comps}) != nc:
                    # duplicate component ids: hostile header — the
                    # render loop frees each component's grid after
                    # use, so a repeated cid would KeyError mid-render
                    # instead of quarantining (code review r16)
                    return None
                # tighter budget than the raster cap: JPEG decode
                # holds int32 coefficient grids for the whole file
                # (progressive needs every scan before render), so
                # peak allocation runs ~6-8x the sample count even
                # with the chunked render below — bound SAMPLES at
                # cap/8 (~33M samples = ~11 MP color / ~33 MP gray)
                # or a crafted 1 MB stream declaring huge dims OOMs
                # the worker long before the output raster exists
                # (code review r15; ceiling raised 8x in r16 by
                # chunking IDCT + banding the color transform)
                if fw * fh * nc > _MAX_RASTER_BYTES // 8:
                    return None
                mcux = -(-fw // (8 * hmax))
                mcuy = -(-fh // (8 * vmax))
                frame = (fw, fh, comps)
                geom = (fw, fh, hmax, vmax, mcux, mcuy)
                coefs = {
                    cid: np.zeros((mcuy * cv, mcux * ch, 64),
                                  dtype=np.int32)
                    for cid, ch, cv, _tq in comps
                }
            elif 0xC3 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                return None  # lossless/arithmetic: the codec gate
            elif m == 0xDD:
                (dri,) = struct.unpack(">H", seg[:2])
            elif m == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
                # APP14 color-transform flag: 1 = YCbCr (the default
                # assumption), 0 = components stored as plain RGB —
                # applying the YCbCr matrix to RGB data garbles colors
                # silently (code review r15)
                adobe_transform = seg[11]
            elif m == 0xDA:  # one scan's worth of entropy data
                if frame is None:
                    return None
                n_scans += 1
                if n_scans > 64:
                    return None  # adversarial scan spam
                ns = seg[0]
                byid = {c[0]: c for c in frame[2]}
                scomps = []
                for c in range(ns):
                    cs, tdta = seg[1 + c * 2:3 + c * 2]
                    if cs not in byid:
                        return None
                    _cid, ch, cv, _tq = byid[cs]
                    scomps.append((cs, tdta >> 4, tdta & 15, ch, cv))
                ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
                br = _JpegBits(payload, i + 2 + seglen)
                if not _jpeg_decode_scan(
                        br, scomps, ss, se, ahal >> 4, ahal & 15,
                        progressive, coefs, huff, dri, geom):
                    return None
                i = br.p  # resume the marker walk after the entropy data
                continue
            i += 2 + seglen
        if frame is None or coefs is None or n_scans == 0:
            return None
        fw, fh, comps = frame
        _fw, _fh, hmax, vmax, mcux, mcuy = geom
        if any(c[3] not in qt for c in comps):
            return None
        # batched IDCT: orthonormal DCT-II matrix pair (x = T.T @ X @ T)
        u = np.arange(8)
        T = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16)
        T *= np.sqrt(2.0 / 8)
        T[0] *= np.sqrt(0.5)
        zz = np.array(_ZIGZAG)
        planes = {}
        for cid, ch, cv, tq in comps:
            # chunked IDCT: same int64/float64 math as a whole-grid
            # render, but intermediates are bounded at _IDCT_CHUNK
            # blocks so peak memory stays ~6-8x the sample count
            # instead of ~40-60x (ADVICE r15 megapixel-ceiling fix)
            flat = coefs[cid].reshape(-1, 64)
            gh, gw = coefs[cid].shape[:2]
            q = qt[tq].astype(np.int64)
            pix8 = np.empty((flat.shape[0], 8, 8), dtype=np.uint8)
            for b0 in range(0, flat.shape[0], _IDCT_CHUNK):
                blk = (flat[b0:b0 + _IDCT_CHUNK].astype(np.int64)
                       * q[None, :]).astype(np.float64)
                nat = np.zeros_like(blk)
                nat[:, zz] = blk  # inverse zigzag
                nat = nat.reshape(-1, 8, 8)
                pix = np.einsum("ux,nuv,vy->nxy", T, nat, T) + 128.0
                pix8[b0:b0 + _IDCT_CHUNK] = np.clip(
                    np.rint(pix), 0, 255).astype(np.uint8)
            del coefs[cid]  # drop the int32 grid as soon as rendered
            plane = pix8.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3)
            plane = plane.reshape(gh * 8, gw * 8)
            # crop MCU padding BEFORE upsampling: the triangle filter's
            # edge replication must see the component's true last
            # row/column, not block-padding garbage
            cw = -(-fw * ch // hmax)
            chh = -(-fh * cv // vmax)
            plane = _jpeg_upsample(plane[:chh, :cw], hmax // ch,
                                   vmax // cv)
            # uint8 plane (exact: triangle-filter output of uint8
            # inputs stays in [0,255]); the color transform below
            # lifts bands to float64 on demand
            planes[cid] = plane[:fh, :fw].astype(np.uint8)
        if len(comps) == 1:
            return fw, fh, 1, planes[comps[0][0]].tobytes()
        # 3-component color interpretation: YCbCr unless the stream
        # says otherwise — APP14 transform=0 or the informal
        # 'R','G','B' component-id convention mean the planes ARE the
        # RGB channels (javax.imageio honors the same two signals)
        cids = tuple(c[0] for c in comps)
        if adobe_transform == 0 or cids == (0x52, 0x47, 0x42):
            rgb = np.stack([planes[c[0]] for c in comps], axis=-1)
            return fw, fh, 3, rgb.tobytes()
        yp, cbp, crp = (planes[c[0]] for c in comps)
        # banded YCbCr->RGB: identical float64 elementwise math to a
        # whole-plane transform, transients bounded per band
        out = np.empty((fh, fw, 3), dtype=np.uint8)
        band = max(1, (1 << 22) // max(fw, 1))
        for r0 in range(0, fh, band):
            y = yp[r0:r0 + band].astype(np.float64)
            cb = cbp[r0:r0 + band].astype(np.float64) - 128.0
            cr = crp[r0:r0 + band].astype(np.float64) - 128.0
            r = y + 1.402 * cr
            g = y - 0.344136 * cb - 0.714136 * cr
            b = y + 1.772 * cb
            out[r0:r0 + band] = np.clip(
                np.rint(np.stack([r, g, b], axis=-1)), 0, 255
            ).astype(np.uint8)
        return fw, fh, 3, out.tobytes()
    except (struct.error, IndexError, ValueError):
        return None


def _wav_samples(payload: bytes):
    """REAL WAV PCM payload decode: (n_frames, 1, channels, sample
    bytes) or None — the audio row of the uniform tensor contract
    (width = frames, height = 1).  The sample bytes are the 'data'
    chunk trimmed to exactly n_frames × block_align; format gating
    (PCM / IEEE float / extensible only) is :func:`_wav_meta`'s."""
    import struct

    rate, ch, bits, n_frames = _wav_meta(payload)
    if rate is None or not n_frames:
        return None
    if n_frames > 0x7FFFFFFF:
        return None  # width is int32 in PIXELS_SCHEMA; an 8-bit-mono
        # RIFF can declare up to 2^32-1 frames — quarantine, don't wrap
    try:
        i = 12
        block_align = None
        while i + 8 <= len(payload):
            tag = payload[i:i + 4]
            size = struct.unpack("<I", payload[i + 4:i + 8])[0]
            if tag == b"fmt ":
                (block_align,) = struct.unpack(
                    "<H", payload[i + 20:i + 22])
            elif tag == b"data":
                # n_frames was counted in fmt's block_align units; the
                # tensor contract needs packed ch x bits frames — a
                # header whose block_align disagrees with ch*bits/8
                # (padded or malformed framing) is out of scope, NOT a
                # stream to slice by the wrong stride
                block = ch * (bits // 8)
                if block == 0 or block_align != block:
                    return None
                want = n_frames * block
                data = payload[i + 8:i + 8 + want]
                if len(data) != want:
                    return None  # torn sample stream
                return n_frames, 1, ch, data
            i += 8 + size + (size & 1)
    except (struct.error, IndexError):
        return None
    return None


def _fake_raster(payload: bytes):
    """Deterministic pseudo-raster (md5-chained, 4x4 RGB) so the
    synthetic utf-8 testdata exercises the pixel plumbing."""
    w, h, ch = 4, 4, 3
    need, out, seed = w * h * ch, bytearray(), payload
    while len(out) < need:
        seed = hashlib.md5(seed).digest()
        out += seed
    return w, h, ch, bytes(out[:need])


def _raster(payload: bytes):
    """Container dispatch for :func:`decode_pixels`: (width, height,
    channels, raster-or-None).  Any known container whose PIXELS are
    out of scope or torn keeps whatever header metadata still parses
    (dims + NULL pixels — JPEG's entropy gate, a 16-bit PNG, an RLE
    BMP, a truncated stream), matching what :func:`decode_metadata`
    reports for the same payload; unknown containers quarantine
    entirely."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        r = _png_raster(payload)
    elif payload[:2] == b"BM":
        r = _bmp_raster(payload)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        r = _wav_samples(payload)
        if r is None:  # header-only fallback in AUDIO terms
            _rate, ch, _bits, n_frames = _wav_meta(payload)
            if n_frames and n_frames <= 0x7FFFFFFF:
                return n_frames, 1, ch, None
            return None, None, None, None
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        r = _gif_raster(payload)
    elif payload[:2] == b"\xff\xd8":
        r = _jpeg_raster(payload)  # arithmetic/lossless: gate -> None
    else:
        return None, None, None, None
    if r:
        return r
    w, h, ch = _real_dims(payload)  # header-only row
    return w, h, ch, None


def decode_pixels(media: DataFrame, decoder: str = "real") -> DataFrame:
    """Payload -> raw sample tensor, the step past
    :func:`decode_metadata`'s header pass.  Same distributed shape
    (Arrow-batched ``mapInPandas``, no shuffle, NULL-row quarantine);
    output is the uniform tensor contract:

      * images: ``pixels`` = top-down row-major 8-bit samples
        (gray / gray+alpha / RGB / RGBA; palettes expanded to RGB);
      * audio: ``pixels`` = the PCM sample bytes, ``width`` = frames,
        ``height`` = 1, ``channels`` = channels — audio as a
        1 x frames x channels tensor.

    ``decoder="real"`` decodes PNG (zlib inflate + per-row unfilter,
    Adam7), GIF (pure-Python LZW, first frame, de-interlaced), BMP
    (BI_RGB 8/24/32-bit), WAV PCM and JPEG — sequential AND
    progressive Huffman (canonical Huffman + numpy IDCT,
    javax.imageio-verified) — for REAL, dependency-free.  Only
    arithmetic-coded/lossless JPEG remains codec-bound: those rows
    keep real header dims with NULL pixels.  JPEG frames past ~11 MP
    color (the ``_MAX_RASTER_BYTES // 8`` sample budget — see
    :func:`_jpeg_raster`) quarantine the same way.  Torn/unknown/NULL
    payloads quarantine — one bad payload never fails the task.

    At 100 TB this is the bandwidth-dominant operator: rasters are
    ~2-50x the compressed payload, so decode LATE (after every filter
    that can run on metadata) and never shuffle the pixel column —
    downstream featurizers should consume it in the same stage."""

    def _decode(batches):
        import pandas as pd

        raster_of = _raster if decoder == "real" else _fake_raster
        for pdf in batches:
            px = [
                raster_of(bytes(p)) if p is not None
                else (None, None, None, None)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [t[0] for t in px],
                    "height": [t[1] for t in px],
                    "channels": [t[2] for t in px],
                    "pixels": [
                        bytearray(t[3]) if t[3] is not None else None
                        for t in px
                    ],
                }
            )

    return media.mapInPandas(_decode, PIXELS_SCHEMA)


def decode_metadata(media: DataFrame, decoder: str = "real") -> DataFrame:
    """Decode payloads to (width, height, channels) metadata.

    ``mapInPandas`` over the source partitions as-is — no shuffle.  Batch
    backpressure is the CALLER's conf, not this operator's side effect:
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (an execution-time
    conf; default 10000 rows/batch) bounds each Arrow batch handed to
    ``_decode``, and ``spark.sql.files.maxPartitionBytes`` bounds
    per-task byte volume at the scan.  Set both session-wide when payload
    rows are large.  An earlier version set maxRecordsPerBatch inside
    this function — a session-global mutation that silently changed
    Arrow batching for every subsequent pandas-UDF query; and the
    version before that ``repartition``-ed the media relation "to size
    batches" — a full shuffle of every payload byte with zero semantic
    effect, a scale-killer at 100 TB.  Neither survives.
    """

    def _decode(batches):
        import pandas as pd

        dims_of = _real_dims if decoder == "real" else _fake_dims
        for pdf in batches:
            # NULL payload (corrupt/missing media — inevitable at 100 TB)
            # keeps its row with NULL metadata; bytes(None) would kill
            # the whole task, one bad row failing the job
            dims = [
                dims_of(bytes(p)) if p is not None else (None,) * 3
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "n_bytes": [
                        len(p) if p is not None else None
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(_decode, DECODED_SCHEMA)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic fake featurizer: payload bytes → dim-float vector
    (md5-chained).  Real models slot in at the marked line; the Spark
    contract (schema, batching, no driver materialization) is final;
    this md5 path is the synthetic-payload mode the registered
    media_features query pins."""

    def _featurize(batches):
        import pandas as pd

        for pdf in batches:
            # NULL payloads have no feature vector: drop the row (the
            # metadata decoder keeps nulled rows; a featurizer's output
            # feeds similarity math where a null vector has no meaning)
            pdf = pdf[pdf["payload"].notna()]
            feats = []
            for p in pdf["payload"]:
                data = bytes(p)
                # <- real model inference goes here
                vec, seed = [], data
                while len(vec) < dim:
                    seed = hashlib.md5(seed).digest()
                    vec.extend(b / 255.0 - 0.5 for b in seed)
                feats.append([float(x) for x in vec[:dim]])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": feats}
            )

    return media.mapInPandas(_featurize, FEATURES_SCHEMA)


def sample_text_frames(docs: DataFrame, every_n_chars: int = 64,
                       max_frames: int = 8, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Character-window frame sampling for TEXT media — the unicode-safe
    twin of :func:`sample_frames`: frames are CHARACTER windows on the
    decoded string (native substring arithmetic), where a byte chunk of
    UTF-8 can cut a multibyte character in half — fine for binary
    digests, but ``decode(chunk, 'utf-8')`` raises
    MALFORMED_CHARACTER_CODING on the torn edge (found by the
    messy-text oracle sweep).  Map-only, no Python, no shuffle; empty
    and NULL texts yield no frames (matching :func:`sample_frames`).
    Output: (media_id, frame_index, frame_text)."""
    n_frames = F.least(
        F.ceil(F.length(text_col) / every_n_chars).cast("int"),
        F.lit(max_frames),
    )
    return (
        docs.filter(F.length(text_col) > 0)
        .select(
            F.col(id_col).alias("media_id"),
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_index"),
            F.col(text_col),
        )
        .select(
            "media_id",
            "frame_index",
            F.expr(
                f"substring({text_col}, frame_index * {every_n_chars} + 1, "
                f"{every_n_chars})"
            ).alias("frame_text"),
        )
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 64,
                  max_frames: int = 8) -> DataFrame:
    """Frame sampling for 'video' payloads: split the byte stream into
    fixed-size chunks and keep every chunk up to ``max_frames`` — pure
    native expressions (no Python), constant output width per row.

    NULL or zero-byte payloads yield NO frames: ``least`` and
    ``greatest`` SKIP null arguments, so the previous spelling gave a
    null payload ``least(NULL, max) = max`` frames of NULL bytes and an
    empty payload one empty frame (``greatest(-1, 0)``); after the
    length filter ``n_frames >= 1`` holds and neither clamp is needed.
    """
    n_frames = F.least(
        F.ceil(F.length("payload") / every_n_bytes).cast("int"),
        F.lit(max_frames),
    )
    idx = F.sequence(F.lit(0), n_frames - 1)
    return (
        media.filter(
            (F.col("kind") == "video") & (F.length("payload") > 0)
        )
        .select(
            "media_id",
            F.explode(idx).alias("frame_index"),
            F.col("payload"),
        )
        .select(
            "media_id",
            "frame_index",
            F.expr(
                f"substring(payload, frame_index * {every_n_bytes} + 1, "
                f"{every_n_bytes})"
            ).alias("frame_payload"),
        )
    )
