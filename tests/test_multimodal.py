"""Multimodal plumbing: fake-decoder determinism, shuffle-free plans,
feature quantization round-trip (the driver-oracle derivation)."""

import hashlib

from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import multimodal


def _media(spark, texts):
    docs = spark.createDataFrame(
        [(i, "synthetic", t) for i, t in enumerate(texts)],
        ["doc_id", "source", "text"],
    )
    return multimodal.documents_as_media(docs)


def test_decode_metadata_matches_md5_derivation(spark):
    texts = ["hello world", "a", "multi modal payload bytes"]
    out = {
        r.media_id: r
        for r in multimodal.decode_metadata(
            _media(spark, texts), decoder="fake").collect()
    }
    for i, t in enumerate(texts):
        h = hashlib.md5(t.encode()).digest()
        r = out[i]
        assert r.width == 64 + int.from_bytes(h[0:2], "big") % 1960
        assert r.height == 64 + int.from_bytes(h[2:4], "big") % 1960
        assert r.channels == 1 + h[4] % 4
        assert r.n_bytes == len(t.encode())


def test_decode_metadata_plan_has_no_exchange(spark):
    # the old implementation repartition()-ed the payload relation — a
    # full shuffle of every media byte for zero semantic effect.  The
    # decode must run over source partitions as-is.
    decoded = multimodal.decode_metadata(_media(spark, ["x", "y"] * 10))
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_decode_metadata_leaves_session_conf_unchanged(spark):
    # regression: an earlier version set arrow.maxRecordsPerBatch
    # session-wide at plan-build time, silently changing Arrow batching
    # for every subsequent pandas-UDF query in the session.
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    multimodal.decode_metadata(_media(spark, ["x"])).collect()
    assert spark.conf.get(key, None) == before


def test_feature_quantization_roundtrip(spark):
    # dim=16 == one md5 digest: de-quantizing (f + 0.5) * 255 must give
    # back the digest bytes exactly despite float32 storage — this is the
    # derivation media_features' DuckDB oracle relies on.
    texts = ["alpha", "beta gamma", ""]
    feats = multimodal.extract_features(_media(spark, texts), dim=16)
    rows = feats.select(
        "media_id", F.posexplode("feature").alias("i", "f")
    ).select(
        "media_id", "i", F.round((F.col("f") + 0.5) * 255).cast("int").alias("b")
    ).collect()
    got = {(r.media_id, r.i): r.b for r in rows}
    for mid, t in enumerate(texts):
        digest = hashlib.md5(t.encode()).digest()
        for i, byte in enumerate(digest):
            assert got[(mid, i)] == byte
    assert len(got) == len(texts) * 16


def test_feature_chain_beyond_one_digest(spark):
    # dim > 16 exercises the md5 chain: bytes 16.. come from md5(md5(p)).
    feats = multimodal.extract_features(_media(spark, ["chain me"]), dim=20)
    vec = feats.first().feature
    d1 = hashlib.md5(b"chain me").digest()
    d2 = hashlib.md5(d1).digest()
    expected = [b / 255.0 - 0.5 for b in (d1 + d2)[:20]]
    assert len(vec) == 20
    for got, exp in zip(vec, expected):
        assert abs(got - exp) < 1e-6


def test_sample_text_frames_reconstructs_prefix(spark):
    """Frame laws for the character-window sampler, on texts chosen to
    hit every boundary: empty, NULL, exactly one window, one char over,
    max_frames overflow, and multibyte characters (the class that
    crashed the byte-chunk + decode spelling).

      1. n_frames == min(ceil(len/W), max_frames), and 0 for NULL/empty;
      2. concatenating a doc's frames in index order reconstructs the
         first min(len, W*max_frames) CHARACTERS of the text exactly —
         no torn multibyte char, no gap, no overlap.
    """
    from dirt_hadoop_similarity_spark.operators import multimodal

    W, MF = 8, 3
    texts = {
        1: "",          # no frames
        2: None,        # no frames
        3: "abcdefgh",             # exactly one window
        4: "abcdefghi",            # one char over -> 2 frames
        5: "x" * (W * MF + 5),     # overflow -> capped at max_frames
        6: "héllo wörld 北京 ém",  # multibyte chars straddle windows
        7: "short",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = multimodal.sample_text_frames(
        docs, every_n_chars=W, max_frames=MF
    ).collect()

    by_doc: dict[int, dict[int, str]] = {}
    for r in out:
        by_doc.setdefault(r.media_id, {})[r.frame_index] = r.frame_text

    for k, t in texts.items():
        if not t:
            assert k not in by_doc, (k, by_doc.get(k))
            continue
        expect_n = min(-(-len(t) // W), MF)
        frames = by_doc[k]
        assert sorted(frames) == list(range(expect_n)), (k, frames)
        joined = "".join(frames[i] for i in range(expect_n))
        assert joined == t[: W * MF], (k, joined)


def _png(w, h, color_type=6, depth=8):
    """A complete, genuinely valid PNG: real IHDR/IDAT/IEND chunks with
    correct CRCs and a real zlib-deflated raster — so the test proves
    header decode against bytes any viewer would accept."""
    import struct, zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raster = b"".join(b"\x00" + b"\x7f" * (w * ch) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b""))


def _bmp(w, h, bits=24):
    """A complete valid BMP (BITMAPINFOHEADER, bottom-up, padded rows)."""
    import struct

    row = (w * (bits // 8) + 3) & ~3
    pixels = (b"\x7f" * (w * (bits // 8)) + b"\x00" * (row - w * (bits // 8))) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bits, 0,
                       len(pixels), 2835, 2835, 0, 0)
    return header + info + pixels


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


def _jpeg(w, h, channels=3):
    """Minimal JPEG segment stream: SOI, an APP0 to prove the segment
    walk skips non-SOF segments, a COM, then SOF0, then EOI."""
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    sof = (b"\xff\xc0" + struct.pack(">H", 8 + 3 * channels) + b"\x08"
           + struct.pack(">HH", h, w) + bytes([channels])
           + b"\x01\x11\x00" * channels)
    return b"\xff\xd8" + app0 + com + sof + b"\xff\xd9"


def test_real_header_decode_all_four_containers(spark):
    """decoder='real' parses genuine container headers (VERDICT r13
    missing #4): the four standard image formats, an unknown container,
    a torn header, and a NULL payload — through the real mapInPandas
    path, not the helper in isolation."""
    rows = [
        (1, "image", bytearray(_png(320, 200))),          # RGBA
        (2, "image", bytearray(_png(7, 5, color_type=0))),  # grayscale
        (3, "image", bytearray(_bmp(640, 480))),
        (4, "image", bytearray(_gif(99, 44))),
        (5, "image", bytearray(_jpeg(1024, 768))),
        (6, "image", bytearray(b"\x00\x01not an image")),  # unknown magic
        (7, "image", bytearray(b"\x89PNG\r\n\x1a\n\x00\x00")),  # torn
        (8, "image", None),                                # failed fetch
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    ).withColumn("meta", F.struct(F.lit("t").alias("source"),
                                  F.lit(0).cast("long").alias("n_bytes")))
    out = {r["media_id"]: r for r in
           multimodal.decode_metadata(media, decoder="real").collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (320, 200, 4)
    assert (out[2]["width"], out[2]["height"], out[2]["channels"]) == (7, 5, 1)
    assert (out[3]["width"], out[3]["height"], out[3]["channels"]) == (640, 480, 3)
    assert (out[4]["width"], out[4]["height"], out[4]["channels"]) == (99, 44, 3)
    assert (out[5]["width"], out[5]["height"], out[5]["channels"]) == (1024, 768, 3)
    for mid in (6, 7, 8):
        assert out[mid]["width"] is None and out[mid]["channels"] is None
    # n_bytes still populated for decodable AND undecodable payloads
    assert out[6]["n_bytes"] == len(rows[5][2]) and out[8]["n_bytes"] is None


def test_real_decode_edge_dims():
    """Header-parse laws straight on the helper: top-down BMPs report
    positive height; JPEG fill bytes and restart markers are walked
    over; EOI before SOF quarantines."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import _real_dims

    td = bytearray(_bmp(8, 4))
    struct.pack_into("<i", td, 22, -4)  # negative = top-down DIB
    assert _real_dims(bytes(td)) == (8, 4, 3)

    padded = (b"\xff\xd8" + b"\xff\xff"        # fill byte
              + b"\xff\xd0"                    # RST0, standalone
              + _jpeg(12, 34)[2:])
    assert _real_dims(padded) == (12, 34, 3)
    assert _real_dims(b"\xff\xd8\xff\xd9") == (None, None, None)


def test_real_wav_header_decode_matches_stdlib_encoder():
    """The WAV header parser behind decode_pixels' audio rows against
    REAL WAV bytes the stdlib wave module encoded — not hand-built
    headers — plus an extra-chunk file (odd-sized LIST before fmt,
    exercising the RIFF even-padding walk) and unknown magic."""
    import io
    import struct
    import wave

    def wav_bytes(rate, ch, sampwidth, n_frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(sampwidth)
            w.setframerate(rate)
            w.writeframes(b"\x01" * (n_frames * ch * sampwidth))
        return buf.getvalue()

    plain = wav_bytes(44100, 2, 2, 1000)
    mono8 = wav_bytes(8000, 1, 1, 37)
    # splice an odd-sized LIST chunk between WAVE and fmt
    body = plain[12:]
    oddlist = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    extra = plain[:4] + struct.pack(
        "<I", 4 + len(oddlist) + len(body)) + b"WAVE" + oddlist + body

    meta = multimodal._wav_meta
    assert meta(plain) == (44100, 2, 16, 1000)
    assert meta(mono8) == (8000, 1, 8, 37)
    assert meta(extra) == (44100, 2, 16, 1000)
    assert meta(b"ID3\x03not really mp3") == (None,) * 4


# ---------------------------------------------------------------------------
# real pixel decode (r15): PNG/BMP/WAV payloads -> raw sample tensors
# ---------------------------------------------------------------------------

def _prand(n, seed=b"px"):
    """Deterministic pseudo-random bytes (md5-chained)."""
    out, s = bytearray(), seed
    while len(out) < n:
        s = hashlib.md5(s).digest()
        out += s
    return bytes(out[:n])


def _png_encode(w, h, color_type, raster, filter_types, palette=None,
                split_idat=False):
    """A real PNG encoder for the test side: applies the requested
    per-row filter types (0..4) before deflate, so the decoder's
    unfilter path is proven against every filter, with correct CRCs."""
    import struct, zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    spp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = w * spp
    prev = bytes(stride)
    enc = bytearray()
    for y in range(h):
        ft = filter_types[y % len(filter_types)]
        row = raster[y * stride:(y + 1) * stride]
        if ft == 0:
            e = row
        elif ft == 1:
            e = bytes((row[i] - (row[i - spp] if i >= spp else 0)) & 255
                      for i in range(stride))
        elif ft == 2:
            e = bytes((row[i] - prev[i]) & 255 for i in range(stride))
        elif ft == 3:
            e = bytes((row[i] - (((row[i - spp] if i >= spp else 0)
                                  + prev[i]) >> 1)) & 255
                      for i in range(stride))
        else:  # Paeth
            def paeth(i):
                a = row[i - spp] if i >= spp else 0
                b = prev[i]
                c = prev[i - spp] if i >= spp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                return a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            e = bytes((row[i] - paeth(i)) & 255 for i in range(stride))
        enc += bytes([ft]) + e
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    z = zlib.compress(bytes(enc))
    body = chunk(b"IHDR", ihdr)
    if palette is not None:
        body += chunk(b"PLTE", palette)
    if split_idat:  # decoder must concatenate multiple IDAT chunks
        body += chunk(b"IDAT", z[:7]) + chunk(b"IDAT", z[7:])
    else:
        body += chunk(b"IDAT", z)
    return b"\x89PNG\r\n\x1a\n" + body + chunk(b"IEND", b"")


def _bmp_encode(w, h, bits, pixels_rgb, top_down=False, palette=None):
    """A real BMP encoder for the test side: takes top-down RGB(A)
    pixels and stores them as the container does (BGR(A), 4-byte padded
    rows, bottom-up unless top_down)."""
    import struct

    bpp = bits // 8
    stride = (w * bpp + 3) & ~3
    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            if bits == 8:
                row.append(pixels_rgb[y * w + x])  # palette index
            elif bits == 24:
                r, g, b = pixels_rgb[(y * w + x) * 3:(y * w + x) * 3 + 3]
                row += bytes([b, g, r])
            else:
                r, g, b, a = pixels_rgb[(y * w + x) * 4:(y * w + x) * 4 + 4]
                row += bytes([b, g, r, a])
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    if not top_down:
        rows.reverse()
    body = b"".join(rows)
    pal = b""
    n_colors = 0
    if bits == 8:
        n_colors = len(palette)
        pal = b"".join(bytes([b, g, r, 0]) for (r, g, b) in palette)
    off = 54 + len(pal)
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1,
                       bits, 0, len(body), 2835, 2835, n_colors, 0)
    return header + info + pal + body


def _decode_px(spark, payloads):
    rows = [(i + 1, "media", bytearray(p) if p is not None else None)
            for i, p in enumerate(payloads)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    return {r["media_id"]: r for r in
            multimodal.decode_pixels(media, decoder="real").collect()}


def test_real_pixel_decode_png_every_filter_and_colortype(spark):
    """decode_pixels(decoder='real') recovers the EXACT raster from
    genuine PNGs exercising all five filter types, all five in-scope
    color types, and a split-IDAT stream."""
    cases = []
    expected = []
    for ct in (0, 2, 4, 6):
        spp = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        raster = _prand(5 * 4 * spp, seed=f"ct{ct}".encode())
        cases.append(_png_encode(5, 4, ct, raster, [0, 1, 2, 3, 4],
                                 split_idat=(ct == 2)))
        expected.append((5, 4, spp, raster))
    # palette: indices expand to RGB triples, channels reports 3
    palette = bytes(range(48))  # 16 RGB entries
    idx = bytes(b % 16 for b in _prand(6 * 3, seed=b"pal"))
    cases.append(_png_encode(6, 3, 3, idx, [0, 1, 4], palette=palette))
    expected.append((6, 3, 3, b"".join(
        palette[i * 3:i * 3 + 3] for i in idx)))
    out = _decode_px(spark, cases)
    for mid, (w, h, ch, raster) in enumerate(expected, start=1):
        r = out[mid]
        assert (r["width"], r["height"], r["channels"]) == (w, h, ch), mid
        assert bytes(r["pixels"]) == raster, f"raster mismatch case {mid}"


def test_real_pixel_decode_bmp_variants(spark):
    """24-bit bottom-up, 32-bit with alpha, 8-bit palette, and top-down
    DIB — all recovered as top-down RGB(A)."""
    rgb = _prand(7 * 3 * 3, seed=b"bmp24")
    rgba = _prand(3 * 2 * 4, seed=b"bmp32")
    pal = [(10 + i, 20 + i, 30 + i) for i in range(5)]
    idx = bytes(b % 5 for b in _prand(4 * 2, seed=b"bmp8"))
    out = _decode_px(spark, [
        _bmp_encode(7, 3, 24, rgb),
        _bmp_encode(3, 2, 32, rgba),
        _bmp_encode(4, 2, 8, idx, palette=pal),
        _bmp_encode(7, 3, 24, rgb, top_down=True),
    ])
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (7, 3, 3)
    assert bytes(out[1]["pixels"]) == rgb
    assert out[2]["channels"] == 4 and bytes(out[2]["pixels"]) == rgba
    assert out[3]["channels"] == 3
    assert bytes(out[3]["pixels"]) == b"".join(
        bytes(pal[i]) for i in idx)
    assert bytes(out[4]["pixels"]) == rgb  # top-down stored == decoded


def test_real_pixel_decode_wav_pcm(spark):
    """WAV PCM through the uniform tensor contract: width = frames,
    height = 1, pixels = the exact sample bytes the stdlib encoder
    wrote."""
    import io
    import wave

    samples = _prand(100 * 2 * 2, seed=b"wav")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(samples)
    out = _decode_px(spark, [buf.getvalue()])
    r = out[1]
    assert (r["width"], r["height"], r["channels"]) == (100, 1, 2)
    assert bytes(r["pixels"]) == samples


def test_real_pixel_decode_quarantine_contract(spark):
    """Any known container whose pixels are out of scope or torn keeps
    whatever header metadata still parses — dims + NULL pixels for a
    JPEG (the entropy gate), a frameless GIF, a 16-bit PNG, and a
    truncated PNG with an intact IHDR — matching decode_metadata's
    report for the same bytes; unknown/NULL payloads quarantine
    entirely."""
    import struct, zlib

    png16 = bytearray(_png(4, 4))
    # patch depth byte to 16 and fix the IHDR CRC
    png16[24] = 16
    ihdr = bytes(png16[12:29])
    struct.pack_into(">I", png16, 29, zlib.crc32(ihdr))
    torn_png = _png(8, 8)[:40]  # signature + IHDR, no complete IDAT
    out = _decode_px(spark, [
        _jpeg(123, 45),
        _gif(9, 7),
        bytes(png16),
        torn_png,
        b"\x00\x01not media",
        None,
    ])
    assert (out[1]["width"], out[1]["height"]) == (123, 45)
    assert out[1]["pixels"] is None
    assert (out[2]["width"], out[2]["height"]) == (9, 7)
    assert out[2]["pixels"] is None
    # out-of-scope depth / torn stream: header dims survive, pixels NULL
    assert (out[3]["width"], out[3]["height"]) == (4, 4)
    assert out[3]["pixels"] is None
    assert (out[4]["width"], out[4]["height"]) == (8, 8)
    assert out[4]["pixels"] is None
    for mid in (5, 6):
        assert out[mid]["width"] is None and out[mid]["pixels"] is None, mid


def test_decode_pixels_fake_is_deterministic_and_shuffle_free(spark):
    media = _media(spark, ["hello", "world"])
    a = multimodal.decode_pixels(media, decoder="fake").collect()
    b = multimodal.decode_pixels(media, decoder="fake").collect()
    assert a == b
    assert all(len(bytes(r["pixels"])) == 4 * 4 * 3 for r in a)
    plan = multimodal.decode_pixels(media, decoder="fake")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_default_decoder_is_real_on_both_entry_points(spark):
    """VERDICT r15 task 2 pin: the no-knob call gets the REAL decoders.
    A naive caller on real media bytes must receive real metadata and
    pixels — and on non-media bytes must receive quarantined NULLs, not
    silently fabricated md5 pseudo-metadata (the fake path is opt-in)."""
    png = _png(6, 5, color_type=2)  # RGB 6x5, mid-gray raster
    rows = [(1, "image", bytearray(png)), (2, "image", bytearray(b"not media"))]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")

    meta = {r["media_id"]: r
            for r in multimodal.decode_metadata(media).collect()}
    assert (meta[1]["width"], meta[1]["height"], meta[1]["channels"]) \
        == (6, 5, 3)
    assert meta[2]["width"] is None  # quarantine, not md5 fabrication

    px = {r["media_id"]: r for r in multimodal.decode_pixels(media).collect()}
    assert bytes(px[1]["pixels"]) == b"\x7f" * (6 * 5 * 3)
    assert px[2]["pixels"] is None


def test_bmp_os2_core_header_metadata():
    """ADVICE r15: 'BM' magic alone is not BITMAPINFOHEADER — an OS/2
    BITMAPCOREHEADER (DIB size 12) packs 16-bit w/h at 18/20; parse it
    correctly instead of unpacking garbage; unknown DIB sizes
    quarantine."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import _real_dims

    core = (struct.pack("<2sIHHI", b"BM", 26 + 12, 0, 0, 26 + 12)
            + struct.pack("<IHHHH", 12, 320, 200, 1, 24))
    assert _real_dims(core) == (320, 200, 3)
    weird = (struct.pack("<2sIHHI", b"BM", 40, 0, 0, 40)
             + struct.pack("<IHHHH", 16, 320, 200, 1, 24))
    assert _real_dims(weird) == (None, None, None)
    # pixel decode of a core-header BMP: metadata-only support
    assert multimodal._bmp_raster(core) is None


def test_wav_non_pcm_quarantines():
    """ADVICE r15: a compressed RIFF payload (ADPCM etc.) has a
    block_align that is not bytes-per-frame — report NULL metadata, not
    confidently-wrong frame counts."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import _wav_meta

    def riff(fmt_code):
        fmt = struct.pack("<HHIIHH", fmt_code, 2, 22050, 22050 * 4, 4, 16)
        data = b"\x00" * 64
        body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def riff_ext(sub_code):
        # a well-formed WAVEFORMATEXTENSIBLE fmt: 16 base + cbSize=22 +
        # validBits/channelMask/SubFormat GUID (Data1 = wrapped code)
        fmt = (struct.pack("<HHIIHH", 0xFFFE, 2, 22050, 22050 * 4, 4, 16)
               + struct.pack("<HHI", 22, 16, 0x3)
               + struct.pack("<I", sub_code) + bytes(12))
        data = b"\x00" * 64
        body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    assert _wav_meta(riff(1)) == (22050, 2, 16, 16)     # PCM: in scope
    assert _wav_meta(riff(3)) == (22050, 2, 16, 16)     # IEEE float
    assert _wav_meta(riff(2)) == (None,) * 4            # ADPCM: quarantine
    assert _wav_meta(riff(0x55)) == (None,) * 4         # MP3-in-RIFF
    # extensible wrapping PCM passes; wrapping ADPCM quarantines — the
    # 0xFFFE tag alone is no PCM guarantee (the SubFormat GUID decides)
    assert _wav_meta(riff_ext(1)) == (22050, 2, 16, 16)
    assert _wav_meta(riff_ext(2)) == (None,) * 4
    # a malformed 16-byte fmt claiming 0xFFFE has no GUID to check
    assert _wav_meta(riff(0xFFFE)) == (None,) * 4


# ---------------------------------------------------------------------------
# real GIF decode (r15, second narrowing): LZW is stdlib-implementable
# ---------------------------------------------------------------------------

def _lzw_encode(indices, min_code):
    """A real GIF LZW encoder for the test side.  Width handling
    mirrors the DECODER's table state exactly (the foolproof way to
    stay convention-compatible): each code is emitted at the width the
    decoder will read it with, including growth to 12 bits and the
    deferred-clear full-table regime."""
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    acc = nacc = 0
    st = {"width": min_code + 1, "size": clear + 2, "first": True}

    def emit(code):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += st["width"]
        while nacc >= 8:
            out.append(acc & 255)
            acc >>= 8
            nacc -= 8
        if code == clear:
            st.update(width=min_code + 1, size=clear + 2, first=True)
        elif code != end:
            if st["first"]:
                st["first"] = False
            elif st["size"] < 4096:
                st["size"] += 1
                if st["size"] == (1 << st["width"]) and st["width"] < 12:
                    st["width"] += 1

    emit(clear)
    d = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in d:
            w = wk
            continue
        emit(d[w])
        if next_code < 4096:
            d[wk] = next_code
            next_code += 1
        w = wk[-1:]
    if w:
        emit(d[w])
    emit(end)
    if nacc:
        out.append(acc & 255)
    return bytes(out)


def _gif_full(w, h, indices, pal, interlace=False):
    """A complete GIF89a container for the test side: global color
    table, one image frame, 255-byte sub-block splitting."""
    import struct

    n = len(pal) // 3
    size, k = 2, 0
    while size < n:
        size <<= 1
        k += 1
    gct = pal + b"\x00" * (3 * size - len(pal))
    min_code = max(2, k + 1)
    lsd = struct.pack("<HHBBB", w, h, 0x80 | k, 0, 0)
    idesc = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                        0x40 if interlace else 0)
    data = _lzw_encode(indices, min_code)
    blocks = b"".join(
        bytes([len(data[i:i + 255])]) + data[i:i + 255]
        for i in range(0, len(data), 255)
    ) + b"\x00"
    # a comment extension before the frame proves the block walk
    ext = b"\x21\xfe\x05hello\x00"
    return (b"GIF89a" + lsd + gct + ext + idesc + bytes([min_code])
            + blocks + b"\x3b")


def test_gif_decode_known_external_sample(spark):
    """The canonical 1x1 tracking-pixel GIF (a REAL file produced by
    standard tooling, not this test's encoder): decodes to one black
    pixel — the external anchor proving the LZW width convention."""
    import base64

    px = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    out = _decode_px(spark, [px])
    r = out[1]
    assert (r["width"], r["height"], r["channels"]) == (1, 1, 3)
    assert bytes(r["pixels"]) == b"\x00\x00\x00"


def test_gif_lzw_roundtrip_through_width_growth(spark):
    """Random index streams over 4- and 256-color palettes, long enough
    to grow the code width (256-color: past 9/10/11 bits into the
    full-table deferred-clear regime), through the full container."""
    pal4 = bytes([10, 0, 0, 0, 20, 0, 0, 0, 30, 255, 255, 255])
    idx4 = bytes(b % 4 for b in _prand(500, seed=b"gif4"))
    pal256 = _prand(256 * 3, seed=b"gifpal")
    idx256 = _prand(12000, seed=b"gif256")
    out = _decode_px(spark, [
        _gif_full(25, 20, idx4, pal4),
        _gif_full(120, 100, idx256, pal256),
    ])
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (25, 20, 3)
    assert bytes(out[1]["pixels"]) == b"".join(
        pal4[i * 3:i * 3 + 3] for i in idx4)
    assert (out[2]["width"], out[2]["height"]) == (120, 100)
    assert bytes(out[2]["pixels"]) == b"".join(
        pal256[i * 3:i * 3 + 3] for i in idx256)


def test_gif_interlaced_frame_reorders_to_top_down():
    """Interlaced storage (8/8/4/2 passes) decodes to top-down rows."""
    from dirt_hadoop_similarity_spark.operators.multimodal import _gif_raster

    w, h = 5, 13
    pal = _prand(8 * 3, seed=b"ipal")
    top_down = bytes(b % 8 for b in _prand(w * h, seed=b"igif"))
    pass_order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for y in range(start, h, step):
            pass_order += top_down[y * w:(y + 1) * w]
    stored = bytes(pass_order)
    r = _gif_raster(_gif_full(w, h, stored, pal, interlace=True))
    assert r is not None and (r[0], r[1], r[2]) == (w, h, 3)
    assert r[3] == b"".join(pal[i * 3:i * 3 + 3] for i in top_down)


def test_gif_torn_and_dataless_quarantine():
    """A GIF with no image frame keeps header dims + NULL pixels; a
    truncated LZW stream (no END code reachable) quarantines the same
    way; an out-of-palette index is corrupt."""
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _gif_raster,
        _raster,
    )

    assert _gif_raster(_gif(9, 7)) is None          # no frame at all
    assert _raster(_gif(9, 7)) == (9, 7, 3, None)   # header-only row
    full = _gif_full(10, 10, bytes(100), bytes(6))
    torn = full[:len(full) - 12]                     # cut mid-stream
    assert _gif_raster(torn) is None


def test_png_adam7_interlaced_roundtrip():
    """Adam7 decode (r15): encode each pass as an independently-filtered
    sub-image (the test side extracts pass pixels from the top-down
    raster), decode, recover the exact raster.  Odd dims exercise
    ragged and empty passes; 1x1 leaves only pass 1."""
    import struct, zlib
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _ADAM7,
        _png_raster,
    )

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    def adam7_png(w, h, color_type, raster):
        spp = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
        enc = bytearray()
        for pi, (x0, y0, xs, ys) in enumerate(_ADAM7):
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            sub = bytearray()
            for j in range(ph):
                for i in range(pw):
                    p = ((y0 + j * ys) * w + (x0 + i * xs)) * spp
                    sub += raster[p:p + spp]
            # filter each sub-image with a varying type via the
            # straight-line encoder already proven on sequential PNGs
            stride = pw * spp
            prev = bytes(stride)
            for j in range(ph):
                row = bytes(sub[j * stride:(j + 1) * stride])
                ft = (pi + j) % 3  # None/Sub/Up across passes and rows
                if ft == 0:
                    e = row
                elif ft == 1:
                    e = bytes((row[i] - (row[i - spp] if i >= spp else 0))
                              & 255 for i in range(stride))
                else:
                    e = bytes((row[i] - prev[i]) & 255
                              for i in range(stride))
                enc += bytes([ft]) + e
                prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(enc)))
                + chunk(b"IEND", b""))

    for w, h, ct in ((13, 11, 2), (8, 8, 6), (1, 1, 0), (3, 9, 4)):
        spp = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        raster = _prand(w * h * spp, seed=f"a7-{w}x{h}".encode())
        got = _png_raster(adam7_png(w, h, ct, raster))
        assert got is not None, (w, h, ct)
        assert (got[0], got[1], got[2]) == (w, h, spp)
        assert got[3] == raster, f"adam7 raster mismatch {w}x{h} ct{ct}"


def test_wav_frame_count_past_int32_quarantines():
    """PIXELS_SCHEMA's width is int32; an 8-bit-mono RIFF can declare
    up to 2^32-1 frames — such a payload quarantines instead of
    wrapping the frame count."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _wav_samples,
    )

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    big = 0x80000000  # declared, not materialized: data chunk is torn
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", big))
    payload = b"RIFF" + struct.pack("<I", 4 + len(body) + big) + b"WAVE" + body
    assert _wav_samples(payload) is None


# ---------------------------------------------------------------------------
# decoder property tests: round-trip laws + the never-raises contract
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=2, max_value=8),
    st.binary(min_size=1, max_size=600),
)
def test_gif_lzw_roundtrip_property(min_code, raw):
    """decode(encode(x)) == x for any index stream over any code size —
    the LZW pair as an algebraic law, not just the fixed vectors."""
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _gif_lzw_decode,
    )

    indices = bytes(b % (1 << min_code) for b in raw)
    assert _gif_lzw_decode(_lzw_encode(indices, min_code),
                           min_code) == indices


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.sampled_from([0, 2, 4, 6]),
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=9),
    st.integers(min_value=0),
)
def test_png_roundtrip_property(w, h, ct, filters, seed):
    """Encode/decode identity across random dims, color types and
    filter schedules."""
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _png_raster,
    )

    spp = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
    raster = _prand(w * h * spp, seed=str(seed).encode())
    got = _png_raster(_png_encode(w, h, ct, raster, filters))
    assert got == (w, h, spp, raster)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=5), st.integers(min_value=0),
       st.integers(min_value=1, max_value=200))
def test_raster_dispatch_never_raises_on_truncation(kind, seed, cut):
    """The quarantine contract as a property: any PREFIX of a valid
    container (torn download — inevitable at 100 TB) must decode to a
    row tuple, never an exception."""
    from dirt_hadoop_similarity_spark.operators.multimodal import _raster

    payloads = [
        _png_encode(6, 5, 2, _prand(90, seed=str(seed).encode()),
                    [0, 1, 2, 3, 4]),
        _bmp_encode(5, 4, 24, _prand(60, seed=str(seed).encode())),
        _gif_full(7, 4, bytes(b % 4 for b in _prand(28, seed=b"q")),
                  bytes(12)),
        _jpeg(40, 30),
        b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00" + bytes(20),
        _prand(64, seed=str(seed).encode()),  # garbage
    ]
    p = payloads[kind]
    out = _raster(p[:max(1, len(p) - cut)])
    assert isinstance(out, tuple) and len(out) == 4


def test_decompression_bombs_quarantine_cheaply():
    """Code-review r15: a payload DECLARING small dims while its
    compressed stream inflates far past them must cost a NULL row (or
    a trimmed frame), never an executor allocation.  PNG: bounded
    inflate caps at expected+1 bytes; GIF: LZW stops at the frame's
    pixel count; declared-dims past the raster budget quarantine before
    any decode."""
    import struct, zlib
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _gif_raster,
        _png_raster,
    )

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    # PNG bomb: 4x4 gray dims, IDAT inflating to 8 MB of zeros
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * (8 << 20)))
            + chunk(b"IEND", b""))
    assert _png_raster(bomb) is None

    # PNG declaring absurd dims with a tiny stream: budget gate fires
    huge = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 6, 0, 0, 0)
    big_dims = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", huge)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
                + chunk(b"IEND", b""))
    assert _png_raster(big_dims) is None

    # GIF whose LZW stream encodes 1M indices for a 4x4 frame: decode
    # stops at 16 pixels and returns the correct prefix raster
    pal = bytes(range(12))  # 4 RGB entries
    long_idx = bytes(b % 4 for b in _prand(1 << 20, seed=b"bomb"))
    r = _gif_raster(_gif_full(4, 4, long_idx, pal))
    assert r is not None and (r[0], r[1]) == (4, 4)
    assert r[3] == b"".join(pal[i * 3:i * 3 + 3] for i in long_idx[:16])


def test_wav_block_align_mismatch_quarantines():
    """Code-review r15: n_frames is counted in fmt's block_align units;
    a header whose block_align disagrees with ch*bits/8 (padded or
    malformed framing) must not be sliced by the wrong stride."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _wav_samples,
    )

    # block_align = 6 but ch*bits/8 = 4: 10 "frames" of 6 bytes
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 6, 6, 16)
    data = b"\x01" * 60
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    payload = (b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body)
    assert _wav_samples(payload) is None


def test_negative_bmp_width_quarantines():
    """Code-review r15: the signed int32 BMP width field can be
    negative in a hostile header — metadata must quarantine, not
    report a negative width."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _real_dims,
    )

    bad = bytearray(_bmp(8, 4))
    struct.pack_into("<i", bad, 18, -320)
    assert _real_dims(bytes(bad)) == (None, None, None)


# ---------------------------------------------------------------------------
# real baseline-JPEG decode (r15, third narrowing): verified against the
# JVM's javax.imageio codec — a REAL reference encoder and an independent
# reference decode of the same bytes (PNG is the lossless pixel bridge)
# ---------------------------------------------------------------------------

def _jvm(spark):
    return spark.sparkContext._jvm


def _png_to_jpeg(spark, png_bytes, quality=None, progressive=False):
    """Transcode PNG -> JPEG inside the JVM (javax.imageio is a real
    libjpeg-lineage codec): the reference ENCODER."""
    jvm = _jvm(spark)
    bi = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(png_bytes)))
    baos = jvm.java.io.ByteArrayOutputStream()
    if quality is None and not progressive:
        assert jvm.javax.imageio.ImageIO.write(bi, "jpeg", baos)
    else:
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "jpeg").next()
        param = writer.getDefaultWriteParam()
        if quality is not None:
            param.setCompressionMode(
                jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            param.setCompressionQuality(float(quality))
        if progressive:
            param.setProgressiveMode(
                jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        writer.setOutput(
            jvm.javax.imageio.ImageIO.createImageOutputStream(baos))
        writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None),
                     param)
        writer.dispose()
    return bytes(baos.toByteArray())


def _reference_decode(spark, jpeg_bytes):
    """The reference DECODE of the same jpeg bytes, exported losslessly
    as PNG and read back through this repo's proven PNG decoder."""
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _png_raster,
    )

    jvm = _jvm(spark)
    bi = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(jpeg_bytes)))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "png", baos)
    return _png_raster(bytes(baos.toByteArray()))


def test_jpeg_decode_matches_reference_codec(spark):
    """_jpeg_raster vs javax.imageio decoding the SAME file: per-sample
    agreement at IDCT-rounding level (the spec leaves IDCT and chroma
    reconstruction to the decoder; the triangle upsampler matches
    libjpeg's, so the residue is a couple of code points)."""
    import numpy as np
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster,
    )

    cases = []
    for (w, h) in ((32, 24), (33, 25), (8, 8), (17, 3)):
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack(
            [(xx * 8) % 256, (yy * 10) % 256, ((xx + yy) * 5) % 256],
            axis=-1).astype(np.uint8)
        cases.append((w, h, 3, rgb.tobytes(), None))
    noise = _prand(40 * 20 * 3, seed=b"jnoise")
    cases.append((40, 20, 3, noise, 0.95))
    gray = _prand(21 * 14, seed=b"jgray")
    cases.append((21, 14, 1, gray, None))
    # progressive (SOF2): multi-scan spectral selection + successive
    # approximation, decoded since r15 — same parity bar
    cases.append((32, 24, 3, cases[0][3], "progressive"))
    cases.append((33, 25, 3, cases[1][3], "progressive"))
    for w, h, ch, raster, q in cases:
        png = _png_encode(w, h, 2 if ch == 3 else 0, raster, [0])
        if q == "progressive":
            jpeg = _png_to_jpeg(spark, png, progressive=True)
            assert b"\xff\xc2" in jpeg[:200]
        else:
            jpeg = _png_to_jpeg(spark, png, quality=q)
        mine = _jpeg_raster(jpeg)
        assert mine is not None, (w, h, ch)
        ref = _reference_decode(spark, jpeg)
        assert (mine[0], mine[1]) == (ref[0], ref[1]) == (w, h)
        a = np.frombuffer(mine[3], dtype=np.uint8).astype(np.int32)
        a = a.reshape(h, w, mine[2])
        b = np.frombuffer(ref[3], dtype=np.uint8).astype(np.int32)
        b = b.reshape(h, w, ref[2])
        if mine[2] == 1 and ref[2] == 3:  # gray exported as RGB PNG
            b = b[:, :, :1]
        d = np.abs(a - b)
        assert d.max() <= 4 and d.mean() <= 0.1, (w, h, ch, d.max(),
                                                  float(d.mean()))


def test_jpeg_through_decode_pixels_and_arithmetic_gate(spark):
    """The mapInPandas path: reference-encoded baseline AND progressive
    JPEGs decode to real pixels; an ARITHMETIC-coded stream (SOF9 —
    the remaining codec gate) keeps its real header dims with NULL
    pixels; truncated baseline streams quarantine to header dims."""
    import numpy as np

    yy, xx = np.mgrid[0:16, 0:24]
    rgb = np.stack([xx * 10, yy * 12, xx + yy], axis=-1).astype(np.uint8)
    png = _png_encode(24, 16, 2, rgb.tobytes(), [0])
    baseline = _png_to_jpeg(spark, png)
    progressive = _png_to_jpeg(spark, png, progressive=True)
    assert b"\xff\xc2" in progressive[:200]  # really SOF2
    torn = baseline[:baseline.index(b"\xff\xda") + 20]  # cut mid-entropy
    arith = baseline.replace(b"\xff\xc0", b"\xff\xc9", 1)  # fake SOF9
    out = _decode_px(spark, [baseline, progressive, torn, arith])
    assert (out[1]["width"], out[1]["height"]) == (24, 16)
    assert out[1]["pixels"] is not None
    assert (out[2]["width"], out[2]["height"]) == (24, 16)
    assert out[2]["pixels"] is not None  # progressive decodes since r15
    assert (out[3]["width"], out[3]["height"]) == (24, 16)
    assert out[3]["pixels"] is None  # torn entropy stream
    assert (out[4]["width"], out[4]["height"]) == (24, 16)
    assert out[4]["pixels"] is None  # the arithmetic-coding gate


def test_arithmetic_jpeg_quarantine_contract_is_permanent(spark):
    """VERDICT r15 task 4: the arithmetic-JPEG gate is adjudicated
    PERMANENT wontfix (no reference codec exists in-sandbox — the JVM's
    javax.imageio can neither encode nor decode SOF9 — so a from-spec
    QM-coder would be unverifiable).  This pins the contract forever:
    a structurally complete arithmetic-coded stream (SOI + DQT + DAC +
    SOF9 + SOS + entropy bytes + EOI) yields REAL header dims with NULL
    pixels through every layer — _jpeg_raster returns None without
    raising, _real_dims reads the SOF9 frame header, and decode_pixels
    keeps the row quarantined; likewise lossless SOF3."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster, _real_dims,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes([8] * 64))
    # DAC (T.81 B.2.4.3): one (Tc/Tb nibble pair, conditioning value)
    dac = seg(0xCC, bytes([0x00, 0x01]))
    sof9 = seg(0xC9, struct.pack(">BHHB", 8, 21, 17, 1)
               + bytes([1, 0x11, 0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    arith = (b"\xff\xd8" + dqt + dac + sof9 + sos
             + b"\x5a\x1d\x25\x86\x11\x14" + b"\xff\xd9")
    lossless = arith.replace(b"\xff\xc9", b"\xff\xc3", 1)

    assert _real_dims(arith) == (17, 21, 1)
    assert _jpeg_raster(arith) is None  # quarantine, never a raise
    assert _jpeg_raster(lossless) is None
    out = _decode_px(spark, [arith, lossless])
    for mid in (1, 2):
        assert (out[mid]["width"], out[mid]["height"]) == (17, 21), mid
        assert out[mid]["pixels"] is None, mid


def test_jpeg_restart_markers_and_dc_reset():
    """A hand-built minimal baseline JPEG with DRI=1: two flat 8x8
    gray MCUs separated by RST0.  Flat blocks at q=8 reconstruct
    EXACTLY (DC-only, orthonormal IDCT), and the second MCU only
    decodes right if the DC predictor resets at the restart."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes([8] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    # DC table: symbols 5 and 7 at length 2 (codes 00, 01); AC table:
    # symbol 0x00 (EOB) as the single length-1 code 0
    bits_dc = [0, 2] + [0] * 14
    dht_dc = seg(0xC4, bytes([0x00] + bits_dc + [5, 7]))
    bits_ac = [1] + [0] * 15
    dht_ac = seg(0xC4, bytes([0x10] + bits_ac + [0x00]))
    dri = seg(0xDD, struct.pack(">H", 1))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))

    class W:
        def __init__(self):
            self.bits = ""

        def put(self, val, n):
            self.bits += format(val, f"0{n}b")

        def flush(self):
            pad = (-len(self.bits)) % 8
            self.bits += "1" * pad
            out = bytearray()
            for i in range(0, len(self.bits), 8):
                b = int(self.bits[i:i + 8], 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)  # byte stuffing
            self.bits = ""
            return bytes(out)

    # MCU 1: flat 100 -> DC level (100-128)*8/8 = -28, category 5,
    # negative encoding -28 + 2^5 - 1 = 3; then EOB (code 0, 1 bit)
    w1 = W()
    w1.put(0b00, 2)   # DC symbol 5
    w1.put(3, 5)      # -28
    w1.put(0, 1)      # EOB
    # MCU 2 (after RST0, predictor reset): flat 50 -> DC -78,
    # category 7, encoding -78 + 2^7 - 1 = 49
    w2 = W()
    w2.put(0b01, 2)   # DC symbol 7
    w2.put(49, 7)     # -78
    w2.put(0, 1)      # EOB
    entropy = w1.flush() + b"\xff\xd0" + w2.flush()
    jpeg = (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + dri + sos
            + entropy + b"\xff\xd9")
    r = _jpeg_raster(jpeg)
    assert r is not None and (r[0], r[1], r[2]) == (16, 8, 1)
    import numpy as np
    img = np.frombuffer(r[3], dtype=np.uint8).reshape(8, 16)
    assert (img[:, :8] == 100).all(), img[:, :8]
    assert (img[:, 8:] == 50).all(), img[:, 8:]


def test_jpeg_truncation_sweep_never_raises(spark):
    """Every prefix of real sequential AND progressive JPEGs decodes to
    a row tuple (dims when the SOF survives, NULLs otherwise) — never
    an exception; cuts land in headers, tables, scan headers and
    entropy data alike."""
    import numpy as np
    from dirt_hadoop_similarity_spark.operators.multimodal import _raster

    yy, xx = np.mgrid[0:16, 0:24]
    rgb = np.stack([xx * 9, yy * 11, xx * yy % 256],
                   axis=-1).astype(np.uint8)
    png = _png_encode(24, 16, 2, rgb.tobytes(), [0])
    for jpeg in (_png_to_jpeg(spark, png),
                 _png_to_jpeg(spark, png, progressive=True)):
        for cut in range(1, len(jpeg), 7):
            out = _raster(jpeg[:cut])
            assert isinstance(out, tuple) and len(out) == 4, cut
        full = _raster(jpeg)
        assert full[3] is not None  # and the uncut stream decodes


def test_jpeg_app14_rgb_and_dqt_validation(spark):
    """Code-review r15 follow-ups: (1) APP14 transform=0 means the
    three components ARE RGB — pinned as a self-consistency law: the
    raw planes from a transform=0 decode, pushed through the BT.601
    matrix, reproduce the YCbCr decode of the same stream exactly, and
    transform=1 decodes identically to no APP14 at all; (2) a DQT
    precision nibble outside 0/1 quarantines instead of mis-parsing."""
    import struct
    import numpy as np
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster,
    )

    yy, xx = np.mgrid[0:16, 0:24]
    rgb = np.stack([xx * 10, yy * 12, xx + yy], axis=-1).astype(np.uint8)
    jpeg = _png_to_jpeg(spark, _png_encode(24, 16, 2, rgb.tobytes(), [0]))

    def with_app14(transform):
        body = b"Adobe" + struct.pack(">HHHB", 0x65, 0, 0, transform)
        seg = b"\xff\xee" + struct.pack(">H", len(body) + 2) + body
        return jpeg[:2] + seg + jpeg[2:]

    base = _jpeg_raster(jpeg)
    same = _jpeg_raster(with_app14(1))
    assert same is not None and same[3] == base[3]  # transform=1 == none

    raw = _jpeg_raster(with_app14(0))  # planes returned untransformed
    assert raw is not None and (raw[0], raw[1], raw[2]) == (24, 16, 3)
    p = np.frombuffer(raw[3], dtype=np.uint8).reshape(16, 24, 3)
    y, cb, cr = (p[:, :, i].astype(np.float64) for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    conv = np.clip(np.rint(np.stack([r, g, b], axis=-1)),
                   0, 255).astype(np.uint8)
    assert conv.tobytes() == base[3]  # the law: raw planes + matrix == YCbCr path

    bad_dqt = bytearray(jpeg)
    i = bad_dqt.index(b"\xff\xdb")
    bad_dqt[i + 4] = (bad_dqt[i + 4] & 0x0F) | 0x20  # Pq=2: invalid
    assert _jpeg_raster(bytes(bad_dqt)) is None


def test_jpeg_declared_dims_budget():
    """Code-review r15 (ceiling raised r16): the whole-file int32
    coefficient grids plus chunked-render transients amplify ~6-8x past
    the output raster, so declared dims are budgeted at cap/8 BEFORE
    any allocation — a tiny stream declaring enormous dims quarantines
    immediately instead of looping millions of MCUs."""
    import struct, time
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes([8] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, 30000, 30000, 1)
              + bytes([1, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00, 0, 2] + [0] * 14 + [5, 7]))
    dht_ac = seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0x00]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bomb = (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
            + b"\x00" * 32 + b"\xff\xd9")
    t0 = time.perf_counter()
    assert _jpeg_raster(bomb) is None
    assert time.perf_counter() - t0 < 1.0  # rejected up front, no loop


def test_metadata_filter_then_decode_late_composition(spark):
    """The documented 100 TB recipe as a working plan: header-pass
    metadata filters FIRST (cheap, no decompression), pixel decode runs
    only on survivors, and the composed plan still adds no Exchange —
    payload bytes never shuffle."""
    import numpy as np

    yy, xx = np.mgrid[0:8, 0:8]
    small = _png_encode(8, 8, 2, _prand(8 * 8 * 3, seed=b"s"), [0])
    yy, xx = np.mgrid[0:64, 0:64]
    big = _png_encode(64, 64, 2, _prand(64 * 64 * 3, seed=b"b"), [0])
    rows = [(i, "image", bytearray(big if i % 2 else small))
            for i in range(20)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    meta = multimodal.decode_metadata(media, decoder="real")
    keep = meta.filter("width >= 32").select("media_id")
    survivors = media.join(keep, "media_id", "left_semi")
    decoded = multimodal.decode_pixels(survivors, decoder="real")
    out = decoded.collect()
    assert len(out) == 10  # only the big images were decoded
    assert all(r["width"] == 64 and r["pixels"] is not None for r in out)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    # the semi-join broadcasts the tiny id set; the payload relation
    # itself must not shuffle
    assert "ShuffleExchange" not in plan.replace(
        "BroadcastExchange", "")


# ---------------------------------------------------------------------------
# audio/video container metadata (r15): AIFF / FLAC / MP3 / MP4 headers
# ---------------------------------------------------------------------------


def test_tiff_dims_match_jdk_reference_writer(spark):
    """decode_metadata('real') on REAL TIFF bytes the JDK's bundled
    TIFF ImageIO plugin produced (big-endian), plus a hand-built
    little-endian IFD with LONG-typed dims — both byte orders and both
    inline value types."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _real_dims,
    )

    jvm = _jvm(spark)
    bi = jvm.java.awt.image.BufferedImage(
        37, 21, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "tiff", baos)
    real = bytes(baos.toByteArray())
    assert _real_dims(real)[:2] == (37, 21)
    assert _real_dims(real[:6]) == (None, None, None)  # torn header

    # little-endian, LONG dims, SHORT SamplesPerPixel
    def entry(tag, typ, val):
        return struct.pack("<HHI", tag, typ, 1) + (
            struct.pack("<I", val) if typ == 4
            else struct.pack("<HH", val, 0))

    ifd = (struct.pack("<H", 3) + entry(256, 4, 640)
           + entry(257, 4, 480) + entry(277, 3, 3)
           + struct.pack("<I", 0))
    tiff = b"II*\x00" + struct.pack("<I", 8) + ifd
    assert _real_dims(tiff) == (640, 480, 3)


def test_webp_dims_all_three_flavors():
    """WebP 'VP8 ' (lossy, sync-code gated), 'VP8L' (lossless, packed
    14-bit dims, alpha bit) and 'VP8X' (extended, 24-bit dims)."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _real_dims,
    )

    def riff(chunk_tag, body):
        chunk = chunk_tag + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    # body = 3-byte frame tag, then the 0x9d012a key-frame sync code
    lossy = riff(b"VP8 ", b"\x00" * 3 + b"\x9d\x01\x2a"
                 + struct.pack("<HH", 320, 240))
    assert _real_dims(lossy) == (320, 240, 3)
    torn = riff(b"VP8 ", b"\x00" * 3 + b"\x9d\x01\x00"
                + struct.pack("<HH", 320, 240))
    assert _real_dims(torn) == (None, None, None)  # bad sync code

    packed = (100 - 1) | ((80 - 1) << 14) | (1 << 28)  # 100x80 + alpha
    lossless = riff(b"VP8L", b"\x2f" + struct.pack("<I", packed))
    assert _real_dims(lossless) == (100, 80, 4)

    ext = riff(b"VP8X", bytes([0x10]) + bytes(3)
               + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little"))
    assert _real_dims(ext) == (1920, 1080, 4)


# ---------------------------------------------------------------------------
# spec-derived byte-exact anchors (VERDICT r15 task 6): FLAC/MP3/OGG have
# no reference encoder in-sandbox (javax.sound writes only WAV/AIFF/AU),
# so these fixtures are LITERAL byte strings whose field values are worked
# out by hand from the published specs — independent of both the parsers
# and any fixture-builder function that could share a misreading with them
# ---------------------------------------------------------------------------


def test_wav_torn_data_chunk_clamps_frame_count():
    """ADVICE r15: a truncated WAV whose declared data-chunk size
    extends past the payload must not report a full, untorn-looking
    frame count — n_frames clamps to the full frames actually
    present."""
    import io
    import wave
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _wav_meta,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x01" * (4 * 1000))
    whole = buf.getvalue()
    assert _wav_meta(whole) == (8000, 2, 16, 1000)
    # cut mid-data: 600 full frames + 2 stray bytes remain
    torn = whole[:len(whole) - 4 * 400 + 2]
    assert _wav_meta(torn) == (8000, 2, 16, 600)


def test_palette_png_budget_is_post_expansion():
    """ADVICE r15: palette PNG (color type 3) output is 3x the index
    stream, so the raster budget must bind on w*h*3 like the GIF path
    — a declared geometry whose index stream fits the budget but whose
    RGB expansion would not quarantines before inflate.  Small palette
    images still decode through the numpy table expansion."""
    from dirt_hadoop_similarity_spark.operators import multimodal
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _png_raster,
    )

    pal = bytes([250, 10, 30, 0, 200, 0, 5, 5, 255])  # 3 RGB entries
    idx = bytes([0, 1, 2, 2, 1, 0])
    png = _png_encode(3, 2, 3, idx, [0, 0], palette=pal)
    r = _png_raster(png)
    assert r is not None and (r[0], r[1], r[2]) == (3, 2, 3)
    assert r[3] == b"".join(pal[i * 3:i * 3 + 3] for i in idx)

    # index stream (w*h + h filter bytes) sits under the budget, but
    # the 3x expansion would not: must quarantine up front
    cap = multimodal._MAX_RASTER_BYTES
    w = 46000
    h = cap // (w + 1) - 8  # index stream < cap; w*h*3 ~ 2.9x cap
    assert h * (w + 1) < cap < w * h * 3
    import struct, zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 1024))
            + chunk(b"IEND", b""))
    import time
    t0 = time.perf_counter()
    assert _png_raster(bomb) is None
    assert time.perf_counter() - t0 < 1.0  # rejected before inflate


def test_jpeg_camera_sized_frame_decodes_after_budget_raise(spark):
    """ADVICE r15: the old cap/64 sample budget silently quarantined
    typical camera/web JPEGs (anything past ~1.4 MP color).  The r16
    chunked-IDCT render raised it to cap/8 (~11 MP color): a 1920x1080
    frame — 6.2M samples, past the old 4.2M cap — must now decode, and
    still agree with javax.imageio's reference decode sample-for-sample
    at IDCT-rounding tolerance."""
    import numpy as np

    h, w = 1080, 1920
    yy, xx = np.mgrid[0:h, 0:w]
    arr = np.stack([(xx // 7 + yy // 5) % 256, (xx // 9) % 256,
                    (yy // 11) % 256], axis=-1).astype(np.uint8)
    jpeg = _png_to_jpeg(spark, _png_encode(w, h, 2, arr.tobytes(),
                                           [0] * h))
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster,
    )

    got = _jpeg_raster(jpeg)
    assert got is not None and (got[0], got[1], got[2]) == (w, h, 3)
    ref = _reference_decode(spark, jpeg)
    a = np.frombuffer(got[3], dtype=np.uint8).astype(np.int16)
    b = np.frombuffer(ref[3], dtype=np.uint8).astype(np.int16)
    d = np.abs(a - b)
    assert int(d.max()) <= 2 and float(d.mean()) < 0.2


def test_jpeg_duplicate_component_ids_quarantine():
    """Code review r16: the render loop frees each component's
    coefficient grid after use, so a hostile SOF listing the same
    component id twice must quarantine at the header — previously it
    decoded (masking the duplicate) and after the grid-free change it
    would KeyError mid-render, killing the task."""
    import struct
    from dirt_hadoop_similarity_spark.operators.multimodal import (
        _jpeg_raster,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, b"\x00" + bytes([8] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 3)
              + bytes([1, 0x11, 0]) + bytes([1, 0x11, 0])  # dup id 1
              + bytes([2, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00, 0, 2] + [0] * 14 + [0, 1]))
    dht_ac = seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0x00]))
    sos = seg(0xDA, bytes([3, 1, 0x00, 1, 0x00, 2, 0x00, 0, 63, 0]))
    bad = (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
           + b"\x00" * 64 + b"\xff\xd9")
    assert _jpeg_raster(bad) is None  # quarantine, never a raise
