"""Multimodal columns (BASELINE.json north star: "multimodal columns").

Images/audio/video are opaque ``binary`` columns plus typed metadata —
exactly how large training-data lakes store them (the bytes travel with the
row; decode happens late, inside Arrow-batched Python stages). This module
provides:

- attach/inspect: binary payload columns, magic-byte sniffing, byte stats —
  pure JVM column functions (oracle-matchable).
- decode/featurize plumbing: ``mapInPandas`` stages with real schemas,
  batching and partitioning. ``decode=\"fake\"`` produces deterministic
  features from the bytes; ``decode=\"strict\"`` is a REAL stdlib codec for
  uncompressed BMP, PCM WAV, 8-bit PNG (zlib inflate + the five scanline
  filters), JPEG — baseline AND progressive (canonical huffman + IDCT +
  successive-approximation scans), GIF (variable-width LZW) and FLAC
  (Rice coding + linear prediction, CRC+md5 verified), and raises
  NotImplementedError only for formats that genuinely need a perceptual
  codec library (MP3/video) — the marked integration point for ffmpeg.

Scale notes: payload columns make rows wide — the operators here never
shuffle the binary column (metadata is projected out first; Parquet column
pruning keeps un-asked-for payloads on disk), and decode stages size their
Arrow batches via spark.sql.execution.arrow.maxRecordsPerBatch rather than
collecting anything."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: magic prefixes (hex, variable length) → media type; longest match wins
MAGIC = {
    "89504E47": "image/png",
    "FFD8FFE0": "image/jpeg",
    "52494646": "audio/wav",  # RIFF
    "1A45DFA3": "video/webm",
    "59555634": "video/y4m",  # 'YUV4' (YUV4MPEG2)
    "47494638": "image/gif",  # 'GIF8' (87a/89a)
    "664C6143": "audio/flac",  # 'fLaC'
    "494433": "audio/mpeg",  # 'ID3' (ID3v2-tagged MP3)
    "FFD8": "image/jpeg",  # any JPEG (EXIF/raw); JFIF matches longer above
    "424D": "image/bmp",  # 'BM' — the 2-byte signature
    "FFFB": "audio/mpeg",  # MPEG-1 Layer III sync, no CRC
    "FFFA": "audio/mpeg",  # MPEG-1 Layer III sync, CRC-protected
    "FFF3": "audio/mpeg",  # MPEG-2 Layer III sync, no CRC
    "FFF2": "audio/mpeg",  # MPEG-2 Layer III sync, CRC-protected
}


def attach_binary(df: DataFrame, text_col: str = "text", out: str = "payload") -> DataFrame:
    """Turn a text column into a binary payload column (UTF-8 bytes) — the
    ingestion shape for blobs arriving via base64/raw fields."""
    return df.withColumn(out, F.encode(F.col(text_col), "UTF-8"))


def sniff_media_type(payload: str = "payload"):
    """Magic-byte sniff as a column expression: leading bytes hex-matched
    against known signatures, longest signature first."""
    hx = F.substring(F.hex(F.col(payload)), 1, 8)
    expr = F.lit("application/octet-stream")
    for magic, mtype in sorted(MAGIC.items(), key=lambda kv: len(kv[0])):
        expr = F.when(F.substring(hx, 1, len(magic)) == magic, mtype).otherwise(
            expr
        )
    return expr


def binary_stats(df: DataFrame, payload: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Typed metadata for a payload column: byte length + sniffed type."""
    return df.select(
        id_col,
        F.length(F.col(payload)).alias("n_bytes"),
        sniff_media_type(payload).alias("media_type"),
    )


#: decoded-feature schema: fixed-length feature vector + declared shape.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _segment_means():
    """Build the ``d``-segment-means feature fold as a factory-local, so
    worker closures that capture it pickle BY VALUE (the codec factories'
    hostile-cwd contract). The one fold behind :func:`decode_features`,
    :func:`sample_video_frames` and ``plugins.PerceptualDecoder``."""

    def segment_means(vals: list, d: int) -> list:
        # d segment means with boundaries floor(i*n/d) — identity when
        # n == d; sums are left-to-right, so the floats are a fixed
        # function of the input (oracle-mirrorable)
        n = len(vals)
        out = []
        for i in range(d):
            lo, hi = (i * n) // d, ((i + 1) * n) // d
            seg = vals[lo:hi]
            out.append(sum(seg) / len(seg) if seg else 0.0)
        return out

    return segment_means


def decode_features(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    dim: int = 8,
    decode: str = "fake",
) -> DataFrame:
    """Decode/feature-extract stage: Arrow-batched mapInPandas over the
    payload column. The Spark-side plumbing (schema, batch iteration,
    column pruning before the shuffle-free map) is real in both modes.

    ``decode='fake'``: deterministic sha256-derived features (the
    oracle-matchable carrier for plumbing checks).

    ``decode='strict'``: a REAL stdlib-only codec for six container
    formats. Images go through the shared dispatcher
    (:func:`_any_image_decoder`, the one used by :func:`transcode_images`
    and :func:`resize_images`): uncompressed 24-bpp BMP
    (:func:`decode_bmp_24`), 8-bit non-interlaced PNG of color types
    0/2/4/6 with alpha ignored (:func:`decode_png_rgb8`), JPEG baseline
    and progressive (:func:`decode_jpeg_baseline`) and GIF87a/89a
    (:func:`decode_gif`). Audio is WAV with 8/16-bit PCM OR compressed
    IMA-ADPCM payloads (RIFF chunk walk, format-tag dispatch — see
    :func:`decode_wav_adpcm`) and FLAC (Rice residuals, fixed/LPC
    predictors, stereo decorrelation, CRC-8/16 + md5 verified — see
    :func:`decode_flac`). Features are ``dim`` segment-means of the
    normalized signal (grayscale pixels scanned top-down row-major for
    images; channel-averaged frames for audio), so the output is
    value-hashable. MP3/video raise NotImplementedError — the narrowed
    seam where PIL/ffmpeg plug in (perceptual audio coding genuinely
    needs them); the pluggable escape hatch is
    :class:`big_data_project_spark.plugins.PerceptualDecoder`, whose real
    ffmpeg path auto-activates when a binary exists and whose
    dispatch/schema/batching run under test via an injected decoder."""
    if decode not in ("fake", "strict"):
        raise ValueError("decode must be 'fake' or 'strict'")

    pruned = df.select(id_col, payload)  # never carry unneeded columns
    magic = dict(MAGIC)
    out_columns = [f.name for f in FEATURE_SCHEMA.fields]
    # locally-defined (factory-built) functions => cloudpickle serializes
    # them by VALUE — hostile-cwd-safe on workers. Built only for strict
    # mode: the fake path must not pay the table construction nor ship
    # unused codec code-objects per task.
    if decode == "strict":
        image_decode = _any_image_decoder()[0]
        flac_decode = _flac_codec()[1]
        adpcm_decode = _adpcm_codec()[1]
        segment_means = _segment_means()
    else:
        image_decode = flac_decode = adpcm_decode = segment_means = None

    # NOTE: the worker closure must be self-contained — module-level
    # *functions* referenced here would be pickled by reference and the
    # worker would need this package importable (not guaranteed when the
    # host runs from an arbitrary cwd). Data globals (magic, out_columns)
    # pickle by value and are safe.
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl
        import struct as _st

        def sniff(data: bytes) -> str:
            hexs = data[:4].hex().upper()
            for m, t in sorted(magic.items(), key=lambda kv: -len(kv[0])):
                if hexs.startswith(m):
                    return t
            return "application/octet-stream"

        def fake_decode(data: bytes):
            h = _hl.sha256(data).digest()
            height = 1 + data[0] % 64 if data else 1
            width = 1 + (len(data) % 64)
            feats = [
                int.from_bytes(h[4 * i : 4 * i + 4], "big") / float(1 << 31) - 1.0
                for i in range(dim)
            ]
            return height, width, feats

        def strict_wav(data: bytes):
            if len(data) < 12 or data[8:12] != b"WAVE":
                raise NotImplementedError("RIFF payload is not WAVE")
            pos, fmt, frames = 12, None, None
            while pos + 8 <= len(data):
                cid = data[pos : pos + 4]
                size = _st.unpack_from("<I", data, pos + 4)[0]
                body = data[pos + 8 : pos + 8 + size]
                if cid == b"fmt ":
                    audio_fmt, n_ch, rate = _st.unpack_from("<HHI", body, 0)
                    bits = _st.unpack_from("<H", body, 14)[0]
                    if audio_fmt == 0x11:  # IMA ADPCM: the compressed path
                        n_ch, rate, s = adpcm_decode(data)
                        vals = [v / 32768.0 for v in s]
                        return n_ch, rate, segment_means(vals, dim)
                    if audio_fmt != 1 or bits not in (8, 16):
                        raise NotImplementedError(
                            f"strict WAV decode supports PCM (8/16-bit) and "
                            f"IMA ADPCM only (got fmt={audio_fmt}, bits={bits})"
                        )
                    fmt = (n_ch, rate, bits)
                elif cid == b"data":
                    frames = body
                pos += 8 + size + (size % 2)  # chunks are word-aligned
            if fmt is None or frames is None:
                raise ValueError("WAV missing fmt/data chunk")
            n_ch, rate, bits = fmt
            if bits == 16:
                n = len(frames) // (2 * n_ch)
                vals = [
                    sum(
                        _st.unpack_from("<h", frames, 2 * (i * n_ch + c))[0]
                        for c in range(n_ch)
                    )
                    / n_ch
                    / 32768.0
                    for i in range(n)
                ]
            else:
                n = len(frames) // n_ch
                vals = [
                    sum(frames[i * n_ch + c] for c in range(n_ch))
                    / n_ch
                    / 255.0
                    for i in range(n)
                ]
            return n_ch, rate, segment_means(vals, dim)

        def strict_image(data: bytes):
            height, width, mode, px = image_decode(data)
            if mode == "gray":
                gray = [v / 255.0 for v in px]
            elif mode == "graya":  # alpha ignored
                gray = [v / 255.0 for v, _a in px]
            elif mode == "rgb":
                gray = [(r + g + b) / 3.0 / 255.0 for r, g, b in px]
            else:  # "rgba", alpha ignored
                gray = [(r + g + b) / 3.0 / 255.0 for r, g, b, _a in px]
            return height, width, segment_means(gray, dim)

        def strict_flac(data: bytes):
            n_ch, rate, frames = flac_decode(data)
            n = len(frames) // n_ch
            vals = [
                sum(frames[i * n_ch + c] for c in range(n_ch))
                / n_ch
                / 32768.0
                for i in range(n)
            ]
            return n_ch, rate, segment_means(vals, dim)

        def strict_decode(data: bytes, media: str):
            if media == "audio/wav":
                return strict_wav(data)
            if media == "audio/flac":
                return strict_flac(data)
            if media.startswith("image/"):
                return strict_image(data)
            raise NotImplementedError(
                f"strict decode handles uncompressed BMP, PCM/ADPCM WAV, "
                f"8-bit PNG, JPEG (baseline + progressive), GIF and FLAC; "
                f"{data[:4]!r} needs a perceptual codec (ffmpeg for "
                f"MP3/video) — plug in here"
            )

        for pdf in it:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload]):
                data = bytes(b) if b is not None else b""
                media = sniff(data)
                if decode == "strict":
                    height, width, feats = strict_decode(data, media)
                else:
                    height, width, feats = fake_decode(data)
                rows.append(
                    {
                        "doc_id": i,
                        "media_type": media,
                        "height": height,
                        "width": width,
                        "features": feats,
                    }
                )
            yield pd.DataFrame(rows, columns=out_columns)

    return pruned.mapInPandas(run, FEATURE_SCHEMA)


def _bmp_png_builders():
    """Factory for the BMP/PNG write-side twins — locally-defined so
    closures that capture them pickle BY VALUE (same hostile-cwd contract
    as the JPEG/GIF/FLAC factories)."""

    def make_bmp_24(pixels: list, width: int, height: int) -> bytes:
        """Serialize pixels (image order, top-down, (r, g, b) tuples) into
        a real uncompressed 24-bpp BMP: BITMAPINFOHEADER, bottom-up file
        rows, BGR byte order, 4-byte row padding. The write-side twin of
        the strict decoder — and the fixture builder the decode tests
        use."""
        import struct

        stride = ((width * 3 + 3) // 4) * 4
        rows = []
        for fy in range(height):  # file stores the BOTTOM image row first
            y = height - 1 - fy
            row = bytearray()
            for x in range(width):
                r, g, b = pixels[y * width + x]
                row += bytes((b, g, r))
            row += b"\x00" * (stride - len(row))
            rows.append(bytes(row))
        pix = b"".join(rows)
        offset = 14 + 40
        hdr = struct.pack("<2sIHHI", b"BM", offset + len(pix), 0, 0, offset)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pix), 2835, 2835, 0, 0
        )
        return hdr + dib + pix


    def make_png_rgb8(
        pixels: list, width: int, height: int, row_filters: list | None = None
    ) -> bytes:
        """Serialize (r, g, b) pixel tuples (image order, top-down) into a real
        8-bit truecolor PNG: CRC'd IHDR/IDAT/IEND chunks, zlib-deflated
        scanlines. ``row_filters`` picks the filter byte per row (default all
        0/None; 1=Sub, 2=Up, 3=Average, 4=Paeth are computed spec-correctly),
        so fixtures can force every defiltering branch. The write-side twin of
        the strict decoder."""
        import struct
        import zlib

        ch = 3
        stride = width * ch
        raws = [
            bytes(
                v
                for x in range(width)
                for v in pixels[y * width + x]
            )
            for y in range(height)
        ]
        filters = row_filters or [0] * height

        def paeth(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        scan = bytearray()
        for y, f in enumerate(filters):
            cur = raws[y]
            up = raws[y - 1] if y > 0 else bytes(stride)
            scan.append(f)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = up[x]
                c = up[x - ch] if x >= ch else 0
                if f == 0:
                    scan.append(cur[x])
                elif f == 1:
                    scan.append((cur[x] - a) & 0xFF)
                elif f == 2:
                    scan.append((cur[x] - b) & 0xFF)
                elif f == 3:
                    scan.append((cur[x] - (a + b) // 2) & 0xFF)
                elif f == 4:
                    scan.append((cur[x] - paeth(a, b, c)) & 0xFF)
                else:
                    raise ValueError(f"bad PNG filter {f}")

        def chunk(typ: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(scan)))
            + chunk(b"IEND", b"")
        )

    def decode_bmp_24(data: bytes):
        """THE strict BMP decoder: -> ``(h, w, 'rgb', [(r,g,b)])`` in image
        order (top row first), same shape as :func:`decode_gif`.
        Uncompressed 24-bpp only; top-down and bottom-up files both
        handled."""
        import struct

        if len(data) < 54 or data[:2] != b"BM":
            raise ValueError("not a BMP or truncated before headers")
        offset = struct.unpack_from("<I", data, 10)[0]
        width, height = struct.unpack_from("<ii", data, 18)
        bpp = struct.unpack_from("<H", data, 28)[0]
        compression = struct.unpack_from("<I", data, 30)[0]
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"decode_bmp_24 supports uncompressed 24-bpp only "
                f"(got bpp={bpp}, compression={compression})"
            )
        bottom_up, height = height > 0, abs(height)
        stride = ((width * 3 + 3) // 4) * 4
        px = []
        for y in range(height):
            fy = (height - 1 - y) if bottom_up else y
            base = offset + fy * stride
            if base + 3 * width > len(data):
                raise ValueError("BMP pixel array truncated")
            row = data[base : base + 3 * width]  # B, G, R per pixel
            px.extend(zip(row[2::3], row[1::3], row[0::3]))
        return height, width, "rgb", px

    def decode_png_rgb8(data: bytes):
        """THE strict PNG decoder: CRC-verified chunk walk,
        concatenated-IDAT inflate, all five scanline filters inverted
        byte-exactly. 8-bit non-interlaced, compression and filter method
        0, color types 0 (mode 'gray', int pixels), 2 ('rgb', (r,g,b)
        tuples), 4 ('graya', (v,a)) and 6 ('rgba', (r,g,b,a)). Returns
        ``(h, w, mode, px)`` like :func:`decode_gif`."""
        import struct
        import zlib

        if data[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("bad PNG signature")
        pos, ihdr, idat = 8, None, b""
        while pos + 12 <= len(data):
            ln = int.from_bytes(data[pos : pos + 4], "big")
            typ = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + ln]
            crc = int.from_bytes(data[pos + 8 + ln : pos + 12 + ln], "big")
            if zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
                raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
            if typ == b"IHDR":
                ihdr = body
            elif typ == b"IDAT":
                idat += body
            elif typ == b"IEND":
                break
            pos += 12 + ln
        if ihdr is None or not idat:
            raise ValueError("PNG missing IHDR/IDAT chunk")
        width, height = struct.unpack_from(">II", ihdr, 0)
        depth, ctype, comp, filt, interlace = ihdr[8:13]
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0 \
                or ctype not in (0, 2, 4, 6):
            raise NotImplementedError(
                f"decode_png_rgb8 supports 8-bit non-interlaced color types "
                f"0/2/4/6 (got depth={depth}, color={ctype}, "
                f"compression={comp}, filter={filt}, interlace={interlace})"
            )
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        raw = zlib.decompress(idat)
        stride = width * ch
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG scanline data has wrong length")

        def paeth(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        out = bytearray(height * stride)
        for y in range(height):
            f = raw[y * (stride + 1)]
            if f > 4:
                raise ValueError(f"bad PNG filter byte {f}")
            line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
            o = y * stride
            for x in range(stride):
                a = out[o + x - ch] if x >= ch else 0
                b = out[o + x - stride] if y > 0 else 0
                c = out[o + x - stride - ch] if (y > 0 and x >= ch) else 0
                v = (
                    line[x] if f == 0
                    else line[x] + a if f == 1
                    else line[x] + b if f == 2
                    else line[x] + (a + b) // 2 if f == 3
                    else line[x] + paeth(a, b, c)
                )
                out[o + x] = v & 0xFF
        if ch == 1:
            return height, width, "gray", list(out)
        mode = {2: "graya", 3: "rgb", 4: "rgba"}[ch]
        return height, width, mode, list(zip(*(out[k::ch] for k in range(ch))))

    return make_bmp_24, make_png_rgb8, decode_bmp_24, decode_png_rgb8


#: BMP/PNG builders + pixel-level decoders, built once (by-value pickling
#: contract)
make_bmp_24, make_png_rgb8, decode_bmp_24, decode_png_rgb8 = _bmp_png_builders()


def make_wav_pcm16(samples: list, rate: int = 8000, n_channels: int = 1) -> bytes:
    """Serialize int16 samples (frame-interleaved when multi-channel) into
    a real PCM WAV (RIFF / fmt / data chunks) — the strict decoder's
    write-side twin."""
    import struct

    data = b"".join(struct.pack("<h", int(s)) for s in samples)
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, rate, rate * n_channels * 2, n_channels * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _jpeg_codec():
    """Build the baseline-JPEG (ITU-T T.81) encoder/decoder pair.

    Both are returned as LOCAL functions on purpose: cloudpickle serializes
    locally-defined functions by VALUE (code object + captured tables), so a
    ``mapInPandas`` closure that captures them keeps working on workers that
    cannot import this package (the hostile-cwd property every strict codec
    here preserves). Module-level aliases :func:`make_jpeg_baseline` /
    :func:`decode_jpeg_baseline` are bound from one factory call below.

    Scope — the honest subset, loudly gated:

    - encode: baseline DCT, 8-bit, grayscale or YCbCr color (4:4:4, or
      4:2:0 via ``subsample=True``), Annex K default quant + huffman
      tables, optional restart intervals. Real FDCT, real canonical
      huffman coding, real byte stuffing.
    - decode: SOF0/SOF1 sequential huffman streams with any table set the
      file carries, any sampling factors, restart markers, stuffed bytes.
      Progressive (SOF2), arithmetic, 12-bit and hierarchical modes raise
      ``NotImplementedError`` — they are the remaining seam, not a silent
      wrong answer.

    Exactness anchor (what makes the codec value-hashable end to end): a
    constant 8x8 block has DC = 8*(v-128) and zero AC, so with a DC quant
    step that divides 8*(v-128) (e.g. 8) the quantize -> huffman ->
    dequantize -> IDCT -> round pipeline reproduces v EXACTLY while still
    exercising every real stage. Non-constant blocks round-trip within
    ordinary quantization error (property-tested, not hashed)."""
    import math
    import struct

    # 8x8 DCT-II basis: M[u][x] = c(u)/2 * cos((2x+1)*u*pi/16), c(0)=1/sqrt2.
    # FDCT is S = M s Mt, IDCT is s = Mt S M (T.81 A.3.3).
    M = [
        [
            ((math.sqrt(0.5) if u == 0 else 1.0) / 2.0)
            * math.cos((2 * x + 1) * u * math.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]

    # zigzag scan position -> natural (row-major) index, generated by
    # walking anti-diagonals (T.81 Figure A.6) rather than transcribed
    ZZ = []
    for s in range(15):
        diag = [(y, s - y) for y in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            diag.reverse()
        ZZ.extend(r * 8 + c for (r, c) in diag)

    # T.81 Annex K: standard quantization + huffman tables (natural order
    # for quant; BITS/HUFFVAL pairs for huffman). The chrominance AC table
    # id reuses the luminance HUFFVAL below — baseline allows any table per
    # component and it spares a 162-constant transcription; the DECODER
    # builds whatever tables the file actually carries.
    K_QUANT_LUM = [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
    K_QUANT_CHR = (
        [17, 18, 24, 47, 99, 99, 99, 99,
         18, 21, 26, 66, 99, 99, 99, 99,
         24, 26, 56, 99, 99, 99, 99, 99,
         47, 66, 99, 99, 99, 99, 99, 99]
        + [99] * 32
    )
    DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    AC_LUM_VALS = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]

    def build_enc_codes(bits, vals):
        # canonical huffman: shorter codes first, lexicographic within length
        enc, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                enc[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return enc

    # encoder huffman tables are constants — built once per process, not per
    # image (the chroma AC id deliberately reuses the luminance HUFFVAL)
    DC_ENC = {
        0: build_enc_codes(DC_LUM_BITS, DC_VALS),
        1: build_enc_codes(DC_CHR_BITS, DC_VALS),
    }
    AC_ENC = {
        0: build_enc_codes(AC_LUM_BITS, AC_LUM_VALS),
        1: build_enc_codes(AC_LUM_BITS, AC_LUM_VALS),
    }
    # progressive AC scans need EOBn symbols (0x10..0xE0), which the
    # sequential Annex K tables do not contain — real progressive encoders
    # ship custom DHTs. A flat 8-bit canonical table over every symbol the
    # scans can emit (EOB0..EOB14, ZRL, (run,size) for size 1..12) is
    # spec-valid (Kraft: 208/256) and trivially correct.
    AC_PROG_VALS = (
        [n << 4 for n in range(15)]
        + [0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 13)]
    )
    AC_PROG_BITS = [0] * 16
    AC_PROG_BITS[7] = len(AC_PROG_VALS)  # every symbol at code length 8
    AC_PROG_ENC = build_enc_codes(AC_PROG_BITS, AC_PROG_VALS)

    # numpy fast path for the two dense transforms (the codec itself — the
    # marker walk, huffman coding, stuffing — stays hand-rolled stdlib).
    # Resolved lazily per process so the by-value-pickled closure works on
    # workers either way; pure-Python loops are the fallback.
    _np_cell: list = []

    def _np():
        if not _np_cell:
            try:
                import numpy

                _np_cell.append(
                    (numpy, numpy.array(M, dtype="float64"))
                )
            except Exception:
                _np_cell.append(None)
        return _np_cell[0]

    def fdct(blk):  # blk: 64 level-shifted ints, row-major [y*8+x]
        hit = _np()
        if hit is not None:
            np, Mnp = hit
            s = np.asarray(blk, dtype="float64").reshape(8, 8)
            return (Mnp @ s @ Mnp.T).tolist()
        tmp = [
            [sum(M[u][y] * blk[y * 8 + x] for y in range(8)) for x in range(8)]
            for u in range(8)
        ]
        # S[vfreq][hfreq]: natural index vfreq*8+hfreq matches ZZ's r*8+c
        return [
            [sum(tmp[u][x] * M[v][x] for x in range(8)) for v in range(8)]
            for u in range(8)
        ]

    def idct(C):  # C: 8x8 natural [vfreq][hfreq], dequantized
        hit = _np()
        if hit is not None:
            np, Mnp = hit
            return (Mnp.T @ np.asarray(C, dtype="float64") @ Mnp).tolist()
        tmp = [
            [sum(M[v][y] * C[v][u] for v in range(8)) for u in range(8)]
            for y in range(8)
        ]
        return [
            [sum(tmp[y][u] * M[u][x] for u in range(8)) for x in range(8)]
            for y in range(8)
        ]

    # ---- helpers shared by BOTH encoders and both decode paths ----------
    # (one copy each of the colorspace constants, quantization rounding,
    # block plumbing and plane assembly — sequential and progressive can
    # never drift apart)

    def validate_quant(q):
        if len(q) != 64 or any(not (1 <= v <= 255) for v in q):
            raise ValueError("quant tables need 64 entries in 1..255")
        return q

    def pick_quant_tables(quant, quant_chroma):
        # chroma default: Annex K chroma table with default luma, but a
        # CUSTOM quant= without quant_chroma= applies to all components
        # (callers overriding one table almost always mean "this table")
        q_lum = list(quant) if quant is not None else list(K_QUANT_LUM)
        if quant_chroma is not None:
            q_chr = list(quant_chroma)
        elif quant is None:
            q_chr = list(K_QUANT_CHR)
        else:
            q_chr = list(q_lum)
        return validate_quant(q_lum), validate_quant(q_chr)

    def rgb_to_ycbcr(pixels):
        Y, Cb, Cr = [], [], []
        for r, g, b in pixels:
            Y.append(min(255, max(0, int(0.299 * r + 0.587 * g + 0.114 * b + 0.5))))
            Cb.append(
                min(255, max(0, int(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)))
            )
            Cr.append(
                min(255, max(0, int(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)))
            )
        return Y, Cb, Cr

    def block_at(plane, pw, ph, x0, y0):
        # 8x8 level-shifted block with edge replication
        return [
            plane[min(y0 + dy, ph - 1) * pw + min(x0 + dx, pw - 1)] - 128
            for dy in range(8)
            for dx in range(8)
        ]

    def quantize_zz(S, q):
        # zigzag-ordered quantized coefficients, round half away from zero
        zz = []
        for k in range(64):
            nat = ZZ[k]
            v = S[nat // 8][nat % 8] / q[nat]
            zz.append(
                int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))
            )
        return zz

    def category(v):
        return (v if v > 0 else -v).bit_length()

    def seg(marker, body):
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + bytes(body)

    def spatial_from_coef(coefm, n_ac):
        # DC-only block: s(x,y) = DC/8 everywhere (the classic libjpeg
        # shortcut — the full IDCT runs whenever any AC term survives)
        if n_ac == 0:
            flat = coefm[0][0] * 0.125
            return [[flat] * 8 for _ in range(8)]
        return idct(coefm)

    def place_block(spatial, pl, pw, x0, y0):
        for yy in range(8):
            base = (y0 + yy) * pw + x0
            row = spatial[yy]
            for xx in range(8):
                v = int(math.floor(row[xx] + 128.5))
                pl[base + xx] = 0 if v < 0 else (255 if v > 255 else v)

    def assemble_planes(planes, hvs, fh, fw, hmax, vmax, mcux):
        # crop + replication-upsample + (for 3 components) YCbCr->RGB
        if len(planes) == 1:
            pw = mcux * hvs[0][0] * 8
            pl = planes[0]
            return (
                fh, fw, "gray",
                [pl[y * pw + x] for y in range(fh) for x in range(fw)],
            )
        if len(planes) == 3:
            pws = [mcux * hv[0] * 8 for hv in hvs]
            pixels = []
            for y in range(fh):
                for x in range(fw):
                    smp = [
                        planes[i][
                            (y * hvs[i][1] // vmax) * pws[i]
                            + (x * hvs[i][0] // hmax)
                        ]
                        for i in range(3)
                    ]
                    yv, cb, cr = smp
                    r = int(math.floor(yv + 1.402 * (cr - 128) + 0.5))
                    g = int(
                        math.floor(
                            yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                        )
                    )
                    b = int(math.floor(yv + 1.772 * (cb - 128) + 0.5))
                    pixels.append(
                        tuple(
                            0 if v < 0 else (255 if v > 255 else v)
                            for v in (r, g, b)
                        )
                    )
            return (fh, fw, "rgb", pixels)
        raise NotImplementedError(f"{len(planes)}-component JPEG unsupported")

    def encode(
        pixels,
        width,
        height,
        *,
        quant=None,
        quant_chroma=None,
        color=False,
        subsample=False,
        restart_interval=0,
    ):
        """Serialize pixels into a REAL baseline JFIF JPEG.

        ``pixels``: row-major top-down; ints 0..255 when ``color=False``,
        ``(r, g, b)`` tuples when True. ``quant``/``quant_chroma``: 64-int
        natural-order tables (default Annex K). ``subsample=True`` emits
        4:2:0 (16x16 MCUs, box-averaged chroma); default is 4:4:4.
        ``restart_interval`` > 0 emits DRI + RSTn markers every that many
        MCUs. Non-multiple-of-block dimensions are edge-replicated."""
        if len(pixels) != width * height:
            raise ValueError("pixels length must be width*height")
        q_lum, q_chr = pick_quant_tables(quant, quant_chroma)

        if color:
            Y, Cb, Cr = rgb_to_ycbcr(pixels)
            hmax = vmax = 2 if subsample else 1
            if subsample:
                cw, chh = (width + 1) // 2, (height + 1) // 2

                def shrink(plane):
                    out = []
                    for yy in range(chh):
                        for xx in range(cw):
                            acc = 0
                            for dy in (0, 1):
                                for dx in (0, 1):
                                    sy = min(2 * yy + dy, height - 1)
                                    sx = min(2 * xx + dx, width - 1)
                                    acc += plane[sy * width + sx]
                            out.append((acc + 2) // 4)
                    return out

                comps = [
                    (1, 2, 2, Y, width, height, q_lum, 0),
                    (2, 1, 1, shrink(Cb), cw, chh, q_chr, 1),
                    (3, 1, 1, shrink(Cr), cw, chh, q_chr, 1),
                ]
            else:
                comps = [
                    (1, 1, 1, Y, width, height, q_lum, 0),
                    (2, 1, 1, Cb, width, height, q_chr, 1),
                    (3, 1, 1, Cr, width, height, q_chr, 1),
                ]
        else:
            hmax = vmax = 1
            comps = [(1, 1, 1, list(pixels), width, height, q_lum, 0)]

        dc_enc, ac_enc = DC_ENC, AC_ENC

        out = bytearray()
        acc = [0, 0]  # pending bits: value, count

        def put(code, ln):
            acc[0] = (acc[0] << ln) | (code & ((1 << ln) - 1))
            acc[1] += ln
            while acc[1] >= 8:
                acc[1] -= 8
                byte = (acc[0] >> acc[1]) & 0xFF
                out.append(byte)
                if byte == 0xFF:  # byte stuffing
                    out.append(0x00)
            acc[0] &= (1 << acc[1]) - 1

        def align():
            if acc[1]:
                put((1 << (8 - acc[1])) - 1, 8 - acc[1])  # pad with 1s

        def encode_block(zz, pred, dc_codes, ac_codes):
            diff = zz[0] - pred
            sz = category(diff)
            code, ln = dc_codes[sz]
            put(code, ln)
            if sz:
                put(diff if diff > 0 else diff + (1 << sz) - 1, sz)
            last = 0
            for k in range(63, 0, -1):
                if zz[k]:
                    last = k
                    break
            run = 0
            for k in range(1, last + 1):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, l = ac_codes[0xF0]  # ZRL: sixteen zeros
                    put(c, l)
                    run -= 16
                sz = category(v)
                c, l = ac_codes[(run << 4) | sz]
                put(c, l)
                put(v if v > 0 else v + (1 << sz) - 1, sz)
                run = 0
            if last < 63:
                c, l = ac_codes[0x00]  # EOB
                put(c, l)
            return zz[0]

        mcux = -(-width // (8 * hmax))
        mcuy = -(-height // (8 * vmax))
        preds = [0] * len(comps)
        mcu_index, rst = 0, 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                    align()
                    out += bytes((0xFF, 0xD0 + rst))
                    rst = (rst + 1) % 8
                    preds = [0] * len(comps)
                for ci, (cid, ch, cv, plane, pw, ph, q, tid) in enumerate(comps):
                    for by in range(cv):
                        for bx in range(ch):
                            blk = block_at(
                                plane, pw, ph, (mx * ch + bx) * 8, (my * cv + by) * 8
                            )
                            preds[ci] = encode_block(
                                quantize_zz(fdct(blk), q), preds[ci],
                                dc_enc[tid], ac_enc[tid],
                            )
                mcu_index += 1
        align()

        head = bytearray(b"\xff\xd8")
        head += seg(
            0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
        )
        head += seg(0xDB, bytes([0x00]) + bytes(q_lum[ZZ[k]] for k in range(64)))
        if color:
            head += seg(0xDB, bytes([0x01]) + bytes(q_chr[ZZ[k]] for k in range(64)))
        sof = bytearray(struct.pack(">BHHB", 8, height, width, len(comps)))
        for cid, ch, cv, _pl, _pw, _ph, _q, tid in comps:
            sof += bytes((cid, (ch << 4) | cv, tid))
        head += seg(0xC0, sof)
        head += seg(0xC4, bytes([0x00]) + bytes(DC_LUM_BITS) + bytes(DC_VALS))
        head += seg(0xC4, bytes([0x10]) + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
        if color:
            head += seg(0xC4, bytes([0x01]) + bytes(DC_CHR_BITS) + bytes(DC_VALS))
            head += seg(0xC4, bytes([0x11]) + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
        if restart_interval:
            head += seg(0xDD, struct.pack(">H", restart_interval))
        sos = bytearray([len(comps)])
        for cid, _ch, _cv, _pl, _pw, _ph, _q, tid in comps:
            sos += bytes((cid, (tid << 4) | tid))
        sos += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0 (baseline)
        head += seg(0xDA, sos)
        return bytes(head) + bytes(out) + b"\xff\xd9"

    def encode_progressive(
        pixels, width, height, *, quant=None, quant_chroma=None, color=False
    ):
        """Serialize pixels into a REAL progressive JPEG (SOF2) with the
        classic 4-stage scan script: interleaved DC first pass at
        successive-approximation Al=1, DC refinement, per-component AC
        band 1..63 at Al=1 (EOB-run coded), per-component AC refinement
        (correction bits buffered through EOB runs — G.1.2.3 Fig. G.7).
        Grayscale or 4:4:4 color (the decoder handles any sampling).
        Fully refined scans end at Al=0, so the decoded image is
        IDENTICAL to the sequential encoding of the same coefficients."""
        if len(pixels) != width * height:
            raise ValueError("pixels length must be width*height")
        q_lum, q_chr = pick_quant_tables(quant, quant_chroma)

        if color:
            Y, Cb, Cr = rgb_to_ycbcr(pixels)
            comps = [(1, Y, q_lum, 0), (2, Cb, q_chr, 1), (3, Cr, q_chr, 1)]
        else:
            comps = [(1, list(pixels), q_lum, 0)]
        bw, bh = -(-width // 8), -(-height // 8)

        blocks = [
            [
                quantize_zz(fdct(block_at(plane, width, height, bx * 8, by * 8)), q)
                for by in range(bh)
                for bx in range(bw)
            ]
            for _cid, plane, q, _tid in comps
        ]

        def make_writer():
            buf = bytearray()
            acc = [0, 0]

            def put(code, ln):
                if not ln:
                    return
                acc[0] = (acc[0] << ln) | (code & ((1 << ln) - 1))
                acc[1] += ln
                while acc[1] >= 8:
                    acc[1] -= 8
                    byte = (acc[0] >> acc[1]) & 0xFF
                    buf.append(byte)
                    if byte == 0xFF:
                        buf.append(0x00)
                acc[0] &= (1 << acc[1]) - 1

            def align():
                if acc[1]:
                    put((1 << (8 - acc[1])) - 1, 8 - acc[1])

            return buf, put, align

        def sos_header(comp_specs, ss2, se2, ah2, al2):
            body = bytearray([len(comp_specs)])
            for cid, td, ta in comp_specs:
                body += bytes((cid, (td << 4) | ta))
            body += bytes((ss2, se2, (ah2 << 4) | al2))
            return seg(0xDA, body)

        out = bytearray(b"\xff\xd8")
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
        out += seg(0xDB, bytes([0x00]) + bytes(q_lum[ZZ[k]] for k in range(64)))
        if color:
            out += seg(0xDB, bytes([0x01]) + bytes(q_chr[ZZ[k]] for k in range(64)))
        sof = bytearray(struct.pack(">BHHB", 8, height, width, len(comps)))
        for cid, _pl, _q, tid in comps:
            sof += bytes((cid, 0x11, tid))
        out += seg(0xC2, sof)
        out += seg(0xC4, bytes([0x00]) + bytes(DC_LUM_BITS) + bytes(DC_VALS))
        out += seg(0xC4, bytes([0x10]) + bytes(AC_PROG_BITS) + bytes(AC_PROG_VALS))
        if color:
            out += seg(0xC4, bytes([0x01]) + bytes(DC_CHR_BITS) + bytes(DC_VALS))
            out += seg(0xC4, bytes([0x11]) + bytes(AC_PROG_BITS) + bytes(AC_PROG_VALS))

        # ---- scan 1: DC first pass, interleaved, Al=1 -------------------
        out += sos_header([(cid, tid, 0) for cid, _p, _q, tid in comps], 0, 0, 0, 1)
        buf, put, align = make_writer()
        preds = [0] * len(comps)
        for bi in range(bw * bh):  # 4:4:4 / gray: MCU raster = block raster
            for ci, (_cid, _pl, _q, tid) in enumerate(comps):
                dc = blocks[ci][bi][0] >> 1  # arithmetic point transform
                diff = dc - preds[ci]
                preds[ci] = dc
                sz = category(diff)
                c, ln = DC_ENC[tid][sz]
                put(c, ln)
                if sz:
                    put(diff if diff > 0 else diff + (1 << sz) - 1, sz)
        align()
        out += buf

        # ---- scan 2: DC refinement, Ah=1 Al=0 (raw bits, no huffman) ----
        out += sos_header([(cid, 0, 0) for cid, _p, _q, _t in comps], 0, 0, 1, 0)
        buf, put, align = make_writer()
        for bi in range(bw * bh):
            for ci in range(len(comps)):
                put(blocks[ci][bi][0] & 1, 1)
        align()
        out += buf

        # ---- scans 3..: AC first pass per component, band 1-63, Al=1 ----
        for ci, (cid, _pl, _q, tid) in enumerate(comps):
            out += sos_header([(cid, 0, tid)], 1, 63, 0, 1)
            buf, put, align = make_writer()
            actab = AC_PROG_ENC
            eobrun = [0]

            def flush_eob():
                if eobrun[0]:
                    n = eobrun[0].bit_length() - 1
                    c, ln = actab[n << 4]
                    put(c, ln)
                    if n:
                        put(eobrun[0] - (1 << n), n)
                    eobrun[0] = 0

            for bi in range(bw * bh):
                zz = blocks[ci][bi]
                band = [((abs(zz[k]) >> 1), zz[k] < 0) for k in range(1, 64)]
                last = 0
                for idx in range(62, -1, -1):
                    if band[idx][0]:
                        last = idx + 1
                        break
                if last == 0:
                    eobrun[0] += 1
                    if eobrun[0] == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                r = 0
                for k in range(1, last + 1):
                    t, neg = band[k - 1]
                    if t == 0:
                        r += 1
                        continue
                    while r > 15:
                        c, ln = actab[0xF0]
                        put(c, ln)
                        r -= 16
                    sz = t.bit_length()
                    c, ln = actab[(r << 4) | sz]
                    put(c, ln)
                    vv = -t if neg else t
                    put(vv if vv > 0 else vv + (1 << sz) - 1, sz)
                    r = 0
                if last < 63:
                    eobrun[0] += 1
                    if eobrun[0] == 0x7FFF:
                        flush_eob()
            flush_eob()
            align()
            out += buf

        # ---- final scans: AC refinement per component, Ah=1 Al=0 --------
        for ci, (cid, _pl, _q, tid) in enumerate(comps):
            out += sos_header([(cid, 0, tid)], 1, 63, 1, 0)
            buf, put, align = make_writer()
            actab = AC_PROG_ENC
            eobrun = [0]
            pending: list = []  # correction bits buffered through EOB runs

            def flush_eob():
                if eobrun[0]:
                    n = eobrun[0].bit_length() - 1
                    c, ln = actab[n << 4]
                    put(c, ln)
                    if n:
                        put(eobrun[0] - (1 << n), n)
                    eobrun[0] = 0
                for bbit in pending:
                    put(bbit, 1)
                pending.clear()

            for bi in range(bw * bh):
                zz = blocks[ci][bi]
                # pending per-position events since the last emitted symbol:
                # 'z' = zero-history slot, int = correction bit of an
                # already-significant coefficient. The decoder's advance
                # window interleaves correction-bit reads WITH zero-slot
                # counting, so emission order must follow position order.
                events: list = []
                for k in range(1, 64):
                    a = abs(zz[k])
                    if a == 0:
                        events.append("z")
                    elif a > 1:
                        events.append(a & 1)
                    else:  # newly significant at this precision
                        flush_eob()
                        while sum(1 for e in events if e == "z") > 15:
                            c, ln = actab[0xF0]  # ZRL: window of 16 zeros
                            put(c, ln)
                            zs, i2 = 0, 0
                            while i2 < len(events):
                                e = events[i2]
                                i2 += 1
                                if e == "z":
                                    zs += 1
                                    if zs == 16:
                                        break
                                else:
                                    put(e, 1)
                            events = events[i2:]
                        r = sum(1 for e in events if e == "z")
                        c, ln = actab[(r << 4) | 1]
                        put(c, ln)
                        put(1 if zz[k] > 0 else 0, 1)
                        for e in events:
                            if e != "z":
                                put(e, 1)
                        events = []
                if events:  # slots remain after the last new coefficient
                    eobrun[0] += 1
                    pending.extend(e for e in events if e != "z")
                    if eobrun[0] == 0x7FFF:
                        flush_eob()
            flush_eob()
            align()
            out += buf

        return bytes(out) + b"\xff\xd9"

    def decode(data):
        """Decode a baseline (SOF0/SOF1) or progressive (SOF2) JPEG with
        stdlib alone: marker
        walk, DQT/DHT table builds (zigzag quant order, canonical huffman),
        huffman entropy decode with byte-destuffing and restart handling,
        dequantize + IDCT, replication chroma upsample, YCbCr->RGB.

        Returns ``(height, width, mode, pixels)`` with mode ``'gray'``
        (pixels: ints) or ``'rgb'`` (pixels: tuples), row-major top-down.
        Progressive (SOF2) streams decode too: coefficients accumulate
        across scans (DC/AC first passes + successive-approximation
        refinement with EOB runs, G.1.2) and finalize at EOI. Arithmetic /
        lossless / 12-bit streams raise NotImplementedError."""
        if data[:2] != b"\xff\xd8":
            raise ValueError("bad JPEG SOI marker")
        pos = 2
        qtabs: dict = {}
        htabs: dict = {}
        frame = None
        restart_interval = 0
        result = None
        pstate = None  # progressive coefficient store, filled scan by scan
        while pos < len(data) - 1:
            if data[pos] != 0xFF:
                raise ValueError(f"expected marker at byte {pos}")
            while pos < len(data) and data[pos] == 0xFF:
                pos += 1  # fill bytes
            m = data[pos]
            pos += 1
            if m == 0xD9:  # EOI
                break
            if m == 0x01 or 0xD0 <= m <= 0xD7:  # TEM / stray RST: no body
                continue
            ln = struct.unpack_from(">H", data, pos)[0]
            body = data[pos + 2 : pos + ln]
            pos += ln
            if m == 0xDB:  # DQT (possibly several tables per segment)
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0x0F
                    i += 1
                    if pq != 0:
                        raise NotImplementedError("16-bit quant tables unsupported")
                    tab = [0] * 64
                    for k in range(64):
                        tab[ZZ[k]] = body[i + k]
                    qtabs[tq] = tab
                    i += 64
            elif m == 0xC4:  # DHT (possibly several tables per segment)
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 0x0F
                    i += 1
                    bits = list(body[i : i + 16])
                    i += 16
                    n = sum(bits)
                    vals = list(body[i : i + n])
                    i += n
                    dec, code, k = {}, 0, 0
                    for l in range(1, 17):
                        for _ in range(bits[l - 1]):
                            dec[(l, code)] = vals[k]
                            k += 1
                            code += 1
                        code <<= 1
                    htabs[(tc, th)] = dec
            elif m in (0xC0, 0xC1, 0xC2):  # sequential / progressive huffman
                prec, fh, fw, nf = struct.unpack_from(">BHHB", body, 0)
                if prec != 8:
                    raise NotImplementedError(f"{prec}-bit precision unsupported")
                comps = []
                for c in range(nf):
                    cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                    comps.append([cid, hv >> 4, hv & 0x0F, tq])
                frame = (fh, fw, comps, m == 0xC2)
            elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    f"JPEG SOF{m - 0xC0} (lossless/arithmetic/hierarchical) unsupported"
                )
            elif m == 0xDD:  # DRI
                restart_interval = struct.unpack_from(">H", body, 0)[0]
            elif m == 0xDA:  # SOS: entropy-coded scan follows the header
                if frame is None:
                    raise ValueError("SOS before SOF")
                fh, fw, comps, prog = frame
                if result is not None:
                    # spec-legal but out of scope for SEQUENTIAL files:
                    # stay LOUD rather than silently returning the last
                    # scan's channel only (progressive multi-scan is the
                    # supported path below)
                    raise NotImplementedError(
                        "multi-scan (non-interleaved) sequential JPEG "
                        "unsupported — one interleaved SOS only"
                    )
                ns = body[0]
                scan = []
                for c in range(ns):
                    cs, tdta = body[1 + 2 * c : 3 + 2 * c]
                    fc = next((x for x in comps if x[0] == cs), None)
                    if fc is None:
                        raise ValueError(
                            f"SOS references unknown component id {cs}"
                        )
                    scan.append((fc, tdta >> 4, tdta & 0x0F))
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0x0F
                if not prog and (ss, se, ahal) != (0, 63, 0):
                    raise NotImplementedError(
                        "non-baseline spectral selection in a sequential SOS"
                    )
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = -(-fw // (8 * hmax))
                mcuy = -(-fh // (8 * vmax))
                planes = []
                if not prog:
                    if fh * fw > (1 << 28):  # plane-allocation DoS guard
                        raise ValueError(
                            f"refusing {fw}x{fh} frame (cap: 256M pixels)"
                        )
                    for (cid, ch, cv, tq), _td, _ta in scan:
                        pw, ph = mcux * ch * 8, mcuy * cv * 8
                        planes.append(bytearray(pw * ph))

                bp = [pos, 0, 0]  # byte position, bit buffer, bits left

                def read_bit():
                    if bp[2] == 0:
                        b = data[bp[0]]
                        bp[0] += 1
                        if b == 0xFF:
                            if data[bp[0]] == 0x00:
                                bp[0] += 1  # stuffed byte
                            else:
                                raise ValueError("marker inside entropy data")
                        bp[1] = b
                        bp[2] = 8
                    bp[2] -= 1
                    return (bp[1] >> bp[2]) & 1

                def receive(n):
                    v = 0
                    for _ in range(n):
                        v = (v << 1) | read_bit()
                    return v

                def extend(v, n):
                    return v if n == 0 or v >= (1 << (n - 1)) else v - (1 << n) + 1

                def huff_decode(tab):
                    code, l = 0, 0
                    while l < 16:
                        code = (code << 1) | read_bit()
                        l += 1
                        sym = tab.get((l, code))
                        if sym is not None:
                            return sym
                    raise ValueError("invalid huffman code in scan")

                def sync_restart():
                    bp[2] = 0  # discard pad bits to the byte boundary
                    p = bp[0]
                    while data[p] == 0xFF and data[p + 1] == 0xFF:
                        p += 1
                    if data[p] != 0xFF or not (0xD0 <= data[p + 1] <= 0xD7):
                        raise ValueError("expected restart marker")
                    bp[0] = p + 2

                if prog:
                    if restart_interval:
                        raise NotImplementedError(
                            "restart markers in progressive scans unsupported"
                        )
                    if pstate is None:
                        # the coefficient store is ~28 bytes per pixel of
                        # Python ints — cap it so a <150-byte hostile header
                        # cannot OOM the worker (16M px ~ a 16MP photo)
                        if fh * fw > (1 << 24):
                            raise ValueError(
                                f"refusing {fw}x{fh} progressive frame: "
                                "coefficient store would exceed worker "
                                "memory (cap: 16M pixels)"
                            )
                        pstate = {"coef": [], "dims": []}
                        for cid, ch, cv, tq in comps:
                            bw_pad, bh_pad = mcux * ch, mcuy * cv
                            cw2 = -(-fw * ch // hmax)
                            ch2 = -(-fh * cv // vmax)
                            pstate["coef"].append(
                                [[0] * 64 for _ in range(bw_pad * bh_pad)]
                            )
                            pstate["dims"].append(
                                (bw_pad, bh_pad, -(-cw2 // 8), -(-ch2 // 8))
                            )
                    eobrun = [0]

                    def ac_first(blk, act):
                        # G.1.2.2: first AC pass of a band — EOB runs +
                        # point-transformed coefficients
                        if eobrun[0] > 0:
                            eobrun[0] -= 1
                            return
                        k = ss
                        while k <= se:
                            rs = huff_decode(act)
                            r, s2 = rs >> 4, rs & 0x0F
                            if s2 == 0:
                                if r != 15:
                                    eobrun[0] = (1 << r) - 1
                                    if r:
                                        eobrun[0] += receive(r)
                                    return
                                k += 16  # ZRL
                                continue
                            k += r
                            if k > se:
                                raise ValueError("AC index overrun in scan")
                            blk[k] = extend(receive(s2), s2) << al
                            k += 1

                    def ac_refine(blk, act):
                        # G.1.2.3 fig G.7: refinement — newly-significant
                        # coefficients arrive as (run,1)+sign; every
                        # already-nonzero coefficient traversed contributes
                        # one correction bit, including through EOB runs
                        p1, n1 = 1 << al, -1 << al
                        k = ss
                        if eobrun[0] == 0:
                            while k <= se:
                                rs = huff_decode(act)
                                r, s2 = rs >> 4, rs & 0x0F
                                val = 0
                                if s2 == 0:
                                    if r != 15:
                                        eobrun[0] = 1 << r
                                        if r:
                                            eobrun[0] += receive(r)
                                        break
                                else:
                                    if s2 != 1:
                                        raise ValueError("bad refinement size")
                                    val = p1 if read_bit() else n1
                                while k <= se:
                                    if blk[k] != 0:
                                        if read_bit() and (blk[k] & p1) == 0:
                                            blk[k] += p1 if blk[k] >= 0 else n1
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val:
                                    if k > se:
                                        raise ValueError(
                                            "refinement run overruns the band"
                                        )
                                    blk[k] = val
                                k += 1
                        if eobrun[0] > 0:
                            while k <= se:
                                if blk[k] != 0:
                                    if read_bit() and (blk[k] & p1) == 0:
                                        blk[k] += p1 if blk[k] >= 0 else n1
                                k += 1
                            eobrun[0] -= 1

                    if ss == 0:  # DC scan (interleaved or single-component)
                        if se != 0:
                            raise ValueError("DC scan must have Se=0")
                        preds = [0] * ns
                        units = []  # (scan_index, comp_index, block_index)
                        if ns > 1:
                            for mcu in range(mcux * mcuy):
                                my, mx = divmod(mcu, mcux)
                                for si2, (fc, _td, _ta) in enumerate(scan):
                                    _cid, ch, cv, _tq = fc
                                    ci = comps.index(fc)
                                    bw_pad = pstate["dims"][ci][0]
                                    for by2 in range(cv):
                                        for bx2 in range(ch):
                                            units.append((
                                                si2, ci,
                                                (my * cv + by2) * bw_pad
                                                + mx * ch + bx2,
                                            ))
                        else:
                            ci = comps.index(scan[0][0])
                            bw_pad, _bh, bwn, bhn = pstate["dims"][ci]
                            units = [
                                (0, ci, by2 * bw_pad + bx2)
                                for by2 in range(bhn)
                                for bx2 in range(bwn)
                            ]
                        for si2, ci, bidx in units:
                            blk = pstate["coef"][ci][bidx]
                            if ah == 0:
                                dct = htabs.get((0, scan[si2][1]))
                                if dct is None:
                                    raise ValueError("missing DC table in scan")
                                sz = huff_decode(dct)
                                preds[si2] += extend(receive(sz), sz)
                                blk[0] = preds[si2] << al
                            elif read_bit():
                                blk[0] |= 1 << al
                    else:  # AC scan: always single-component
                        if ns != 1:
                            raise ValueError("AC scans must be single-component")
                        fc, _td, ta = scan[0]
                        ci = comps.index(fc)
                        act = htabs.get((1, ta))
                        if act is None:
                            raise ValueError("missing AC table in scan")
                        bw_pad, _bh, bwn, bhn = pstate["dims"][ci]
                        step = ac_first if ah == 0 else ac_refine
                        for by2 in range(bhn):
                            for bx2 in range(bwn):
                                step(pstate["coef"][ci][by2 * bw_pad + bx2], act)
                    bp[2] = 0  # discard pad bits at scan end
                    pos = bp[0]
                else:
                    preds = [0] * ns
                    for mcu in range(mcux * mcuy):
                        if restart_interval and mcu and mcu % restart_interval == 0:
                            sync_restart()
                            preds = [0] * ns
                        my, mx = divmod(mcu, mcux)
                        for si, ((cid, ch, cv, tq), td, ta) in enumerate(scan):
                            dct = htabs.get((0, td))
                            act = htabs.get((1, ta))
                            q = qtabs.get(tq)
                            if dct is None or act is None or q is None:
                                raise ValueError("scan references missing DHT/DQT table")
                            pw = mcux * ch * 8
                            for by in range(cv):
                                for bx in range(ch):
                                    sz = huff_decode(dct)
                                    preds[si] += extend(receive(sz), sz)
                                    coef = [[0.0] * 8 for _ in range(8)]
                                    coef[0][0] = preds[si] * q[0]
                                    n_ac = 0
                                    k = 1
                                    while k < 64:
                                        rs = huff_decode(act)
                                        r, s2 = rs >> 4, rs & 0x0F
                                        if s2 == 0:
                                            if r == 15:
                                                k += 16  # ZRL
                                                continue
                                            break  # EOB
                                        k += r
                                        if k > 63:
                                            raise ValueError("AC index overrun")
                                        nat = ZZ[k]
                                        coef[nat // 8][nat % 8] = (
                                            extend(receive(s2), s2) * q[nat]
                                        )
                                        n_ac += 1
                                        k += 1
                                    place_block(
                                        spatial_from_coef(coef, n_ac),
                                        planes[si], pw,
                                        (mx * ch + bx) * 8,
                                        (my * cv + by) * 8,
                                    )
                    pos = bp[0]
                    result = assemble_planes(
                        planes, [(sc[0][1], sc[0][2]) for sc in scan],
                        fh, fw, hmax, vmax, mcux,
                    )
            # other markers (APPn, COM, DNL): skipped via their length
        if result is None and pstate is not None:
            # progressive finalize: every scan accumulated coefficients;
            # dequantize + IDCT each block now, then assemble exactly like
            # the sequential path
            fh, fw, comps, _prog = frame
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-fw // (8 * hmax))
            planes, hvs = [], []
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                q = qtabs.get(tq)
                if q is None:
                    raise ValueError("missing quant table at finalize")
                bw_pad, bh_pad, _bwn, _bhn = pstate["dims"][ci]
                pw = bw_pad * 8
                pl = bytearray(pw * bh_pad * 8)
                for bi, zz in enumerate(pstate["coef"][ci]):
                    by2, bx2 = divmod(bi, bw_pad)
                    coefm = [[0.0] * 8 for _ in range(8)]
                    n_ac = 0
                    for k in range(64):
                        if zz[k]:
                            nat = ZZ[k]
                            coefm[nat // 8][nat % 8] = zz[k] * q[nat]
                            if k:
                                n_ac += 1
                    place_block(
                        spatial_from_coef(coefm, n_ac), pl, pw, bx2 * 8, by2 * 8
                    )
                planes.append(pl)
                hvs.append((ch, cv))
            result = assemble_planes(planes, hvs, fh, fw, hmax, vmax, mcux)
        if result is None:
            raise ValueError("JPEG has no decoded scan")
        return result

    return encode, decode, encode_progressive


#: JPEG codec, built once; locally-defined functions so closures that
#: capture them pickle BY VALUE (hostile-cwd-safe on workers)
make_jpeg_baseline, decode_jpeg_baseline, make_jpeg_progressive = _jpeg_codec()


def _gif_codec():
    """Build the GIF87a/89a encoder/decoder pair (same factory-local
    by-value-pickling contract as :func:`_jpeg_codec`).

    - encode: real variable-width LZW (dict growth 9→12 bits, clear-code
      reset at 4096), power-of-two palette built from the distinct colors
      (≤256), optional Adam-style 4-pass interlace, 255-byte sub-block
      packing.
    - decode: logical-screen + image descriptors, global/local color
      tables, extension-block skipping (GCE/comment/application), LZW
      decompression including the KwKwK case and mid-stream clear codes,
      4-pass de-interlace. First image frame only (animation frames after
      the first are ignored — documented, loud in the docstring rather
      than silently wrong).

    GIF is lossless, so unlike JPEG the WHOLE pixel surface value-hashes
    for arbitrary content."""
    import struct

    INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step)

    def _interlaced_row_order(height):
        return [y for start, step in INTERLACE_PASSES for y in range(start, height, step)]

    def _build_palette(pixels):
        """Palette (sorted distinct colors), index map, and the derived
        color-resolution / table-size / LZW-min-code triple."""
        palette = sorted(set(pixels))
        if len(palette) > 256:
            raise ValueError("GIF needs <=256 distinct colors")
        index_of = {c: i for i, c in enumerate(palette)}
        bits = 1
        while (1 << bits) < len(palette):
            bits += 1
        bits = max(bits, 1)
        return palette, index_of, bits, 1 << bits, max(2, bits)

    def _lzw_pack(idx, min_code, table_size):
        """Variable-width LZW pack of an index stream (dict growth 9→12
        bits, clear-code reset at 4096) — the entropy stage shared by the
        still and animated encoders."""
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        out_bits = bytearray()
        acc = [0, 0]  # value, bit count (LSB-first packing)

        def put(code, w):
            acc[0] |= code << acc[1]
            acc[1] += w
            while acc[1] >= 8:
                out_bits.append(acc[0] & 0xFF)
                acc[0] >>= 8
                acc[1] -= 8

        def fresh_dict():
            return {(i,): i for i in range(table_size)}

        width_bits = min_code + 1
        table = fresh_dict()
        nxt = eoi + 1
        put(clear, width_bits)
        w = (idx[0],)
        for k in idx[1:]:
            wk = w + (k,)
            if wk in table:
                w = wk
                continue
            put(table[w], width_bits)
            table[wk] = nxt
            nxt += 1
            # the decoder widens AFTER adding its (one-behind) entry when
            # its next == 1<<width; mirroring that here keeps both sides
            # reading/writing the same code width at every position
            if nxt == (1 << width_bits) + 1 and width_bits < 12:
                width_bits += 1
            if nxt > 4095:
                put(clear, width_bits)
                table = fresh_dict()
                nxt = eoi + 1
                width_bits = min_code + 1
            w = (k,)
        put(table[w], width_bits)
        put(eoi, width_bits)
        if acc[1]:
            out_bits.append(acc[0] & 0xFF)
        return bytes(out_bits)

    def _sub_blocks(payload):
        """255-byte sub-block packing + the 0x00 block terminator."""
        out = bytearray()
        for i in range(0, len(payload), 255):
            chunk = payload[i : i + 255]
            out += bytes([len(chunk)]) + bytes(chunk)
        out += b"\x00"
        return bytes(out)

    def _screen_header(width, height, palette, bits, table_size):
        head = bytearray(b"GIF89a")
        # logical screen: global color table, colour resolution bits
        head += struct.pack(
            "<HHBBB", width, height, 0x80 | ((bits - 1) & 7) << 4 | (bits - 1), 0, 0
        )
        for c in palette:
            head += bytes(c)
        head += b"\x00\x00\x00" * (table_size - len(palette))
        return head

    def encode(pixels, width, height, *, interlace=False):
        """Serialize (r, g, b) pixel tuples (row-major top-down) into a
        real GIF89a: auto-built palette (≤256 distinct colors), LZW-packed
        index stream, optional interlace."""
        if width <= 0 or height <= 0:
            raise ValueError("GIF dimensions must be positive")
        if len(pixels) != width * height:
            raise ValueError("pixels length must be width*height")
        palette, index_of, bits, table_size, min_code = _build_palette(pixels)
        rows = range(height) if not interlace else _interlaced_row_order(height)
        idx = [
            index_of[pixels[y * width + x]] for y in rows for x in range(width)
        ]
        head = _screen_header(width, height, palette, bits, table_size)
        head += b"\x2c" + struct.pack(
            "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
        )
        head += bytes([min_code])
        head += _sub_blocks(_lzw_pack(idx, min_code, table_size))
        head += b"\x3b"  # trailer
        return bytes(head)

    def encode_animated(
        width,
        height,
        frames,
        *,
        delays_cs=None,
        loop=0,
        disposals=None,
        transparent=None,
    ):
        """Serialize a REAL animated GIF89a: one global palette over all
        frames, a NETSCAPE2.0 loop extension, and per frame a Graphic
        Control Extension (disposal method, delay in centiseconds,
        optional transparent color) + image descriptor + LZW data.

        ``frames``: each element is either a full-frame pixel list or a
        ``(left, top, fw, fh, pixels)`` sub-rectangle update — the delta
        encoding every real GIF animation tool emits. ``transparent`` is
        a sentinel (r, g, b); pixels equal to it are written as the
        transparent index and leave the underlying canvas visible."""
        norm = []
        for fr in frames:
            # rect form is (left, top, fw, fh, pixels) — require int coords
            # so a full frame that happens to be a 5-pixel TUPLE can't be
            # misparsed as a rectangle spec
            if (
                isinstance(fr, tuple)
                and len(fr) == 5
                and all(isinstance(v, int) for v in fr[:4])
            ):
                left, top, fw, fh, px = fr
            else:
                left, top, fw, fh, px = 0, 0, width, height, list(fr)
            if fw <= 0 or fh <= 0 or left < 0 or top < 0:
                raise ValueError("frame rectangle must have positive area")
            if len(px) != fw * fh:
                raise ValueError("frame pixels length must be fw*fh")
            if left + fw > width or top + fh > height:
                raise ValueError("frame rectangle exceeds the logical screen")
            norm.append((left, top, fw, fh, px))
        if not norm:
            raise ValueError("animated GIF needs at least one frame")
        all_px = [p for *_rect, px in norm for p in px]
        if transparent is not None:
            all_px.append(transparent)
        palette, index_of, bits, table_size, min_code = _build_palette(all_px)
        delays = list(delays_cs) if delays_cs is not None else [10] * len(norm)
        disp = list(disposals) if disposals is not None else [1] * len(norm)
        if len(delays) != len(norm) or len(disp) != len(norm):
            raise ValueError("delays_cs/disposals must match the frame count")

        head = _screen_header(width, height, palette, bits, table_size)
        head += (
            b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
        )
        t_idx = index_of[transparent] if transparent is not None else 0
        for (left, top, fw, fh, px), d, dp in zip(norm, delays, disp):
            gce_flags = ((dp & 7) << 2) | (1 if transparent is not None else 0)
            head += (
                b"\x21\xf9\x04"
                + bytes([gce_flags])
                + struct.pack("<H", d)
                + bytes([t_idx])
                + b"\x00"
            )
            head += b"\x2c" + struct.pack("<HHHHB", left, top, fw, fh, 0)
            head += bytes([min_code])
            idx = [index_of[p] for p in px]
            head += _sub_blocks(_lzw_pack(idx, min_code, table_size))
        head += b"\x3b"
        return bytes(head)

    def _read_screen(data):
        """Parse signature + logical screen descriptor + global palette.
        Returns (pos, sw, sh, bg_index, global_pal)."""
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("bad GIF signature")
        sw, sh, flags, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
        pos = 13
        global_pal = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            global_pal = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
            pos += 3 * n
        return pos, sw, sh, bg, global_pal

    def _read_image_block(data, pos, global_pal):
        """Parse one image descriptor at ``pos`` (the byte AFTER 0x2C):
        local palette, LZW unpack (KwKwK + mid-stream clears), de-interlace.
        Returns (new_pos, left, top, w, h, pal, indices-in-image-order)."""
        left, top, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = global_pal
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image has no color table")
        interlaced = bool(iflags & 0x40)
        if pos >= len(data):
            raise ValueError("GIF truncated before LZW data")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            if pos + 1 + ln > len(data):
                raise ValueError("GIF truncated inside a data sub-block")
            lzw += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        if pos >= len(data):
            raise ValueError("GIF truncated before block terminator")
        pos += 1

        clear, eoi = 1 << min_code, (1 << min_code) + 1
        width_bits = min_code + 1
        bitpos = 0
        total_bits = len(lzw) * 8

        def read_code():
            nonlocal bitpos
            if bitpos + width_bits > total_bits:
                raise ValueError("GIF LZW stream truncated")
            v = 0
            for i in range(width_bits):
                byte = lzw[(bitpos + i) >> 3]
                v |= ((byte >> ((bitpos + i) & 7)) & 1) << i
            bitpos += width_bits
            return v

        base = {i: (i,) for i in range(1 << min_code)}
        table = dict(base)
        nxt = eoi + 1
        out: list = []
        prev = None
        while True:
            c = read_code()
            if c == clear:
                table = dict(base)
                nxt = eoi + 1
                width_bits = min_code + 1
                prev = None
                continue
            if c == eoi:
                break
            if prev is None:
                entry = table[c]
            elif c < nxt:
                entry = table[c]
            elif c == nxt:
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                raise ValueError("GIF LZW code out of range")
            out.extend(entry)
            if prev is not None and nxt < 4096:
                table[nxt] = prev + (entry[0],)
                nxt += 1
                if nxt == (1 << width_bits) and width_bits < 12:
                    width_bits += 1
            prev = entry
            if len(out) >= w * h:
                break
        if len(out) < w * h:
            raise ValueError("GIF pixel data incomplete")
        out = out[: w * h]
        if any(i >= len(pal) for i in out):
            raise ValueError("GIF palette index out of range")
        if interlaced:
            ordered = [None] * (w * h)
            for file_row, y in enumerate(_interlaced_row_order(h)):
                ordered[y * w : (y + 1) * w] = out[file_row * w : (file_row + 1) * w]
            out = ordered
        return pos, left, top, w, h, pal, out

    def decode(data):
        """Decode a GIF87a/89a (first frame): returns
        ``(height, width, 'rgb', pixels)`` row-major top-down."""
        pos, _sw, _sh, _bg, global_pal = _read_screen(data)
        while pos < len(data):
            b = data[pos]
            pos += 1
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label + sub-blocks
                pos += 1
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                if pos >= len(data):
                    raise ValueError("GIF truncated inside extension block")
                pos += 1
                continue
            if b != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b:02x}")
            pos, _left, _top, w, h, pal, out = _read_image_block(data, pos, global_pal)
            return h, w, "rgb", [pal[i] for i in out]
        raise ValueError("GIF has no image block")

    def decode_frames(data):
        """Decode ALL frames of a (possibly animated) GIF89a with real
        compositing semantics: each image block is painted onto the
        logical-screen canvas at its (left, top) sub-rectangle, pixels at
        the GCE's transparent index leave the underlying canvas visible,
        and the disposal method is honored AFTER the frame is snapshot —
        none/keep (0/1), restore-to-background (2), restore-to-previous
        (3). Returns ``(sh, sw, 'rgb', [(delay_cs, pixels), ...])`` where
        each pixels list is the full composited canvas in image order."""
        pos, sw, sh, bg, global_pal = _read_screen(data)
        if sw * sh > 16_000_000:
            raise ValueError(
                f"refusing {sw}x{sh} GIF canvas (cap: 16M pixels)"
            )
        bg_color = (
            global_pal[bg] if global_pal and bg < len(global_pal) else (0, 0, 0)
        )
        canvas = [bg_color] * (sw * sh)
        frames = []
        pending = (0, 0, None)  # (disposal, delay_cs, transparent index)
        while pos < len(data):
            b = data[pos]
            pos += 1
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension
                if pos >= len(data):
                    raise ValueError("GIF truncated at extension label")
                label = data[pos]
                pos += 1
                if label == 0xF9 and pos < len(data) and data[pos] >= 4:
                    blk = data[pos + 1 : pos + 1 + data[pos]]
                    if len(blk) < 4:
                        raise ValueError("GIF GCE block truncated")
                    gflags = blk[0]
                    pending = (
                        (gflags >> 2) & 7,
                        blk[1] | (blk[2] << 8),
                        blk[3] if (gflags & 1) else None,
                    )
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                if pos >= len(data):
                    raise ValueError("GIF truncated inside extension block")
                pos += 1
                continue
            if b != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b:02x}")
            pos, left, top, w, h, pal, out = _read_image_block(data, pos, global_pal)
            if left + w > sw or top + h > sh:
                raise ValueError("GIF frame rectangle exceeds the logical screen")
            disposal, delay, t_idx = pending
            pending = (0, 0, None)
            prev_canvas = canvas[:] if disposal == 3 else None
            for yy in range(h):
                row = (top + yy) * sw + left
                src = yy * w
                for xx in range(w):
                    i = out[src + xx]
                    if t_idx is not None and i == t_idx:
                        continue
                    canvas[row + xx] = pal[i]
            frames.append((delay, canvas[:]))
            if len(frames) > 4096:
                raise ValueError("refusing GIF with >4096 frames")
            if len(frames) * sw * sh > 64_000_000:
                # each snapshot copies the canvas — the per-frame cap and
                # the 16M canvas cap COMPOSE to tens of GB without this
                raise ValueError(
                    "refusing GIF whose composited frames exceed 64M "
                    "total pixels"
                )
            if disposal == 2:
                for yy in range(h):
                    row = (top + yy) * sw + left
                    for xx in range(w):
                        canvas[row + xx] = bg_color
            elif disposal == 3:
                canvas = prev_canvas
        if not frames:
            raise ValueError("GIF has no image block")
        return sh, sw, "rgb", frames

    return encode, decode, encode_animated, decode_frames


#: GIF codec, built once (same by-value pickling contract as JPEG); the
#: animated pair (NETSCAPE2.0 loop, GCE delays/transparency/disposal,
#: sub-rectangle compositing) is the engine's REAL video container path.
make_gif, decode_gif, make_gif_animated, decode_gif_frames = _gif_codec()


def _flac_codec():
    """Build the FLAC encoder/decoder pair (same factory-local
    by-value-pickling contract as :func:`_jpeg_codec`).

    - encode: STREAMINFO (with a REAL md5 of the raw samples), frames with
      constant / verbatim / fixed-predictor (order 0-4) subframes, real
      Rice residual coding (zigzag + unary quotient + k-bit remainder,
      per-partition parameters, raw-escape), optional left/side stereo
      decorrelation, CRC-8 frame-header and CRC-16 frame checksums.
    - decode: metadata-block walk, frame sync, UTF-8-coded frame numbers,
      all four channel assignments (independent, L/S, R/S, M/S), constant/
      verbatim/fixed/LPC subframes (LPC with arithmetic-shift prediction),
      wasted-bits, Rice + raw-escape residuals, partition orders, CRC-8 +
      CRC-16 VERIFIED, and the STREAMINFO md5 checked against the decoded
      samples — a corrupted file fails loudly, never decodes silently
      wrong.

    FLAC is lossless: decoded samples are bit-exact, so the whole path
    value-hashes for arbitrary content (the audio twin of GIF/PNG)."""
    import hashlib
    import struct

    def crc8(data: bytes) -> int:
        crc = 0
        for b in data:
            crc ^= b
            for _ in range(8):
                crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        return crc

    def crc16(data: bytes) -> int:
        crc = 0
        for b in data:
            crc ^= b << 8
            for _ in range(8):
                crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
        return crc

    FIXED_COEFS = {
        0: [],
        1: [1],
        2: [2, -1],
        3: [3, -3, 1],
        4: [4, -6, 4, -1],
    }

    class _BW:  # MSB-first bit writer
        def __init__(self):
            self.buf = bytearray()
            self.acc = 0
            self.n = 0

        def put(self, value, bits):
            if bits:
                self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
                self.n += bits
                while self.n >= 8:
                    self.n -= 8
                    self.buf.append((self.acc >> self.n) & 0xFF)
                self.acc &= (1 << self.n) - 1

        def put_unary(self, q):
            while q >= 32:
                self.put(0, 32)
                q -= 32
            self.put(1, q + 1)  # q zeros then a 1

        def align(self):
            if self.n:
                self.put(0, 8 - self.n)

        def bytes(self):
            assert self.n == 0
            return bytes(self.buf)

    def utf8_number(n: int) -> bytes:
        # FLAC's UTF-8-style coding of frame/sample numbers. Capacity of an
        # nbytes form is (7-nbytes) lead bits + 6·(nbytes-1) continuation
        # bits = 5·nbytes + 1; FLAC requires the MINIMAL form (an overlong
        # coding is spec-invalid and strict decoders reject it).
        if n < 0x80:
            return bytes([n])
        bits = n.bit_length()
        nbytes = 2
        while bits > 5 * nbytes + 1:
            nbytes += 1
        out = []
        payload = [(n >> (6 * i)) & 0x3F for i in range(nbytes - 1)]
        lead = (0xFF << (8 - nbytes) & 0xFF) | (n >> (6 * (nbytes - 1)))
        out.append(lead & 0xFF)
        out.extend(0x80 | p for p in reversed(payload))
        return bytes(out)

    def rice_encode(bw, residuals, pred_order, block_size):
        # one partition (order 0), parameter chosen from the mean residual
        bw.put(0, 2)  # method: rice, 4-bit params
        bw.put(0, 4)  # partition order 0
        n = block_size - pred_order
        zig = [(r << 1) if r >= 0 else (((-r) << 1) - 1) for r in residuals]
        total = sum(zig)
        k = 0
        while (n << (k + 1)) < total and k < 14:
            k += 1
        bw.put(k, 4)
        for u in zig:
            bw.put_unary(u >> k)
            bw.put(u, k)

    def encode(
        samples,
        rate=8000,
        n_channels=1,
        *,
        bits=16,
        block_size=4096,
        subframe="auto",
        stereo="independent",
    ):
        """Serialize int samples (frame-interleaved when multi-channel)
        into a real FLAC stream. ``subframe``: 'auto' (constant where the
        channel block is constant, else fixed order 2), 'verbatim',
        'constant' (requires constant input), or 'fixed:K' (K in 0..4).
        ``stereo``: 'independent' or 'left_side' (2 channels only)."""
        if bits != 16:
            raise ValueError("encoder supports 16-bit samples")
        if len(samples) % n_channels:
            raise ValueError("samples not divisible by channel count")
        n_frames_total = len(samples) // n_channels
        md5 = hashlib.md5(
            b"".join(struct.pack("<h", s) for s in samples)
        ).digest()

        head = bytearray(b"fLaC")
        info = _BW()
        info.put(block_size, 16)
        info.put(block_size, 16)
        info.put(0, 24)
        info.put(0, 24)
        info.put(rate, 20)
        info.put(n_channels - 1, 3)
        info.put(bits - 1, 5)
        info.put(n_frames_total, 36)
        body = info.bytes() + md5
        head += bytes([0x80, 0, 0, len(body)]) + body  # last-block STREAMINFO

        def write_subframe(bw, chan, sf_kind, sbits):
            bw.put(0, 1)  # zero pad bit
            # wasted-bits detection (real FLAC encoder behavior): if every
            # sample shares trailing zero bits, code the shifted samples at
            # reduced depth and declare the shift
            wasted = 0
            if any(chan) and sf_kind != "verbatim":
                while wasted < sbits - 1 and all(
                    (s >> wasted) & 1 == 0 for s in chan
                ) and any(s >> wasted for s in chan):
                    wasted += 1
            if wasted:
                chan = [s >> wasted for s in chan]
            eff = sbits - wasted

            def put_wasted_flag():
                if wasted:
                    bw.put(1, 1)
                    bw.put(1, wasted)  # unary: (wasted-1) zeros then a 1
                else:
                    bw.put(0, 1)

            if sf_kind == "constant" or (
                sf_kind == "auto" and len(set(chan)) == 1
            ):
                if len(set(chan)) != 1:
                    raise ValueError("constant subframe on non-constant data")
                bw.put(0, 6)
                put_wasted_flag()
                bw.put(chan[0], eff)
                return
            if sf_kind == "verbatim":
                bw.put(1, 6)
                bw.put(0, 1)
                for s in chan:
                    bw.put(s, eff)
                return
            if sf_kind.startswith("lpc:"):
                # genuine LPC bitstream; the coefficient set is the fixed
                # predictor scaled by 1<<shift (integer-exact prediction)
                order = int(sf_kind.split(":")[1])
                order = min(order, len(chan) - 1) if len(chan) > 1 else 0
                if order == 0:
                    raise ValueError("lpc subframe needs order >= 1")
                shift, prec = 4, 10
                coefs = [c << shift for c in FIXED_COEFS[order]]
                bw.put(32 | (order - 1), 6)
                put_wasted_flag()
                for s in chan[:order]:
                    bw.put(s, eff)
                bw.put(prec - 1, 4)
                bw.put(shift, 5)
                for c in coefs:
                    bw.put(c, prec)
                residuals = [
                    chan[i]
                    - (sum(c * chan[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
                    for i in range(order, len(chan))
                ]
                rice_encode(bw, residuals, order, len(chan))
                return
            order = 2 if sf_kind == "auto" else int(sf_kind.split(":")[1])
            order = min(order, len(chan) - 1) if len(chan) > 1 else 0
            bw.put(8 | order, 6)  # fixed subframe
            put_wasted_flag()
            for s in chan[:order]:
                bw.put(s, eff)
            coefs = FIXED_COEFS[order]
            residuals = [
                chan[i] - sum(c * chan[i - 1 - j] for j, c in enumerate(coefs))
                for i in range(order, len(chan))
            ]
            rice_encode(bw, residuals, order, len(chan))

        frame_no = 0
        out = bytearray(head)
        for start in range(0, n_frames_total, block_size):
            cnt = min(block_size, n_frames_total - start)
            chans = [
                [samples[(start + i) * n_channels + c] for i in range(cnt)]
                for c in range(n_channels)
            ]
            decorrelated = stereo != "independent" and n_channels == 2
            if decorrelated:
                side = [l - r for l, r in zip(chans[0], chans[1])]
                if stereo == "left_side":
                    ch_code, chans = 8, [chans[0], side]
                elif stereo == "right_side":
                    ch_code, chans = 9, [side, chans[1]]
                elif stereo == "mid_side":
                    mid = [(l + r) >> 1 for l, r in zip(chans[0], chans[1])]
                    ch_code, chans = 10, [mid, side]
                else:
                    raise ValueError(f"unknown stereo mode {stereo!r}")
            else:
                ch_code = n_channels - 1
            bw = _BW()
            bw.put(0x3FFE, 14)
            bw.put(0, 1)  # reserved
            bw.put(0, 1)  # fixed-blocksize strategy: frame number
            bw.put(7, 4)  # block size: 16-bit at end (cnt - 1)
            bw.put(0, 4)  # sample rate: from STREAMINFO
            bw.put(ch_code, 4)
            bw.put(4, 3)  # 16-bit sample size (code 100)
            bw.put(0, 1)  # reserved
            bw.align()
            hdr = bytearray(bw.bytes())
            hdr += utf8_number(frame_no)
            hdr += struct.pack(">H", cnt - 1)
            hdr.append(crc8(hdr))
            bw = _BW()
            side_idx = {8: 1, 9: 0, 10: 1}.get(ch_code)
            for c, chan in enumerate(chans):
                sbits = 16 + (1 if decorrelated and c == side_idx else 0)
                write_subframe(bw, chan, subframe, sbits)
            bw.align()
            frame = bytes(hdr) + bw.bytes()
            out += frame + struct.pack(">H", crc16(frame))
            frame_no += 1
        return bytes(out)

    def decode(data):
        """Decode a FLAC stream: returns ``(n_channels, sample_rate,
        samples)`` with samples frame-interleaved ints, bit-exact. CRC-8,
        CRC-16 and the STREAMINFO md5 are all verified."""
        if data[:4] != b"fLaC":
            raise ValueError("bad FLAC signature")
        pos = 4
        streaminfo = None
        while True:
            hdr = data[pos : pos + 4]
            last, btype = bool(hdr[0] & 0x80), hdr[0] & 0x7F
            ln = int.from_bytes(hdr[1:4], "big")
            body = data[pos + 4 : pos + 4 + ln]
            pos += 4 + ln
            if btype == 0:
                streaminfo = body
            if last:
                break
        if streaminfo is None:
            raise ValueError("FLAC missing STREAMINFO")
        rate = int.from_bytes(streaminfo[10:13], "big") >> 4
        n_channels = ((streaminfo[12] >> 1) & 0x07) + 1
        sbits = (((streaminfo[12] & 1) << 4) | (streaminfo[13] >> 4)) + 1
        total = int.from_bytes(streaminfo[13:18], "big") & ((1 << 36) - 1)
        want_md5 = streaminfo[18:34]
        if sbits != 16:
            raise NotImplementedError(f"{sbits}-bit FLAC unsupported (16 only)")

        bitpos = [pos * 8]

        def rbits(n):
            v = 0
            p = bitpos[0]
            for i in range(n):
                byte = data[(p + i) >> 3]
                v = (v << 1) | ((byte >> (7 - ((p + i) & 7))) & 1)
            bitpos[0] += n
            return v

        def runary():
            q = 0
            while rbits(1) == 0:
                q += 1
            return q

        def rsigned(n):
            v = rbits(n)
            return v - (1 << n) if v >= (1 << (n - 1)) else v

        def read_utf8_number():
            b0 = rbits(8)
            if b0 < 0x80:
                return b0
            nbytes = 0
            while b0 & (0x80 >> nbytes):
                nbytes += 1
            v = b0 & (0x7F >> nbytes)
            for _ in range(nbytes - 1):
                v = (v << 6) | (rbits(8) & 0x3F)
            return v

        def read_residuals(block, order):
            method = rbits(2)
            if method > 1:
                raise ValueError("reserved FLAC residual method")
            pbits = 4 if method == 0 else 5
            porder = rbits(4)
            res = []
            for p in range(1 << porder):
                cnt = block >> porder
                if p == 0:
                    cnt -= order
                k = rbits(pbits)
                if k == (1 << pbits) - 1:  # raw escape
                    raw = rbits(5)
                    res.extend(rsigned(raw) for _ in range(cnt))
                else:
                    for _ in range(cnt):
                        q = runary()
                        u = (q << k) | rbits(k)
                        res.append((u >> 1) if u % 2 == 0 else -((u + 1) >> 1))
            return res

        def read_subframe(block, depth):
            if rbits(1):
                raise ValueError("FLAC subframe pad bit set")
            t = rbits(6)
            wasted = 0
            if rbits(1):
                wasted = runary() + 1
            eff = depth - wasted
            if t == 0:  # constant
                out = [rsigned(eff)] * block
            elif t == 1:  # verbatim
                out = [rsigned(eff) for _ in range(block)]
            elif 8 <= t <= 12:  # fixed
                order = t - 8
                warm = [rsigned(eff) for _ in range(order)]
                res = read_residuals(block, order)
                out = list(warm)
                coefs = FIXED_COEFS[order]
                for r in res:
                    pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
                    out.append(r + pred)
            elif t >= 32:  # LPC
                order = t - 31
                warm = [rsigned(eff) for _ in range(order)]
                prec = rbits(4) + 1
                if prec == 16:
                    raise ValueError("invalid LPC precision")
                shift = rsigned(5)
                coefs = [rsigned(prec) for _ in range(order)]
                res = read_residuals(block, order)
                out = list(warm)
                for r in res:
                    pred = sum(
                        c * out[-1 - j] for j, c in enumerate(coefs)
                    ) >> shift
                    out.append(r + pred)
            else:
                raise ValueError(f"reserved FLAC subframe type {t}")
            return [s << wasted for s in out]

        samples: list = []
        decoded = 0
        while decoded < total:
            frame_start = bitpos[0] >> 3
            if rbits(14) != 0x3FFE:
                raise ValueError("lost FLAC frame sync")
            rbits(1)
            rbits(1)  # blocking strategy
            bs_code = rbits(4)
            sr_code = rbits(4)
            ch_code = rbits(4)
            ss_code = rbits(3)
            rbits(1)
            read_utf8_number()
            if bs_code == 1:
                block = 192
            elif 2 <= bs_code <= 5:
                block = 576 << (bs_code - 2)
            elif bs_code == 6:
                block = rbits(8) + 1
            elif bs_code == 7:
                block = rbits(16) + 1
            elif bs_code >= 8:
                block = 256 << (bs_code - 8)
            else:
                raise ValueError("reserved FLAC block size code")
            if sr_code == 12:
                rbits(8)
            elif sr_code in (13, 14):
                rbits(16)
            hdr_end = bitpos[0] >> 3
            if crc8(data[frame_start:hdr_end]) != rbits(8):
                raise ValueError("FLAC frame header CRC-8 mismatch")
            if ss_code == 0:
                depth = sbits
            else:
                depth = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
                if depth is None:
                    raise ValueError("reserved FLAC sample size code")
            if ch_code < 8:
                nch = ch_code + 1
                chans = [read_subframe(block, depth) for _ in range(nch)]
            elif ch_code == 8:  # left/side
                left = read_subframe(block, depth)
                side = read_subframe(block, depth + 1)
                chans = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = read_subframe(block, depth + 1)
                right = read_subframe(block, depth)
                chans = [[r + s for r, s in zip(right, side)], right]
            elif ch_code == 10:  # mid/side
                mid = read_subframe(block, depth)
                side = read_subframe(block, depth + 1)
                chans = [[], []]
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    chans[0].append((m2 + s) >> 1)
                    chans[1].append((m2 - s) >> 1)
            else:
                raise ValueError("reserved FLAC channel assignment")
            if ch_code < 8 and nch != n_channels:
                raise ValueError("frame channel count != STREAMINFO")
            # byte-align, then the frame CRC-16
            if bitpos[0] & 7:
                rbits(8 - (bitpos[0] & 7))
            frame_end = bitpos[0] >> 3
            if crc16(data[frame_start:frame_end]) != rbits(16):
                raise ValueError("FLAC frame CRC-16 mismatch")
            take = min(block, total - decoded)
            for i in range(take):
                for c in range(n_channels):
                    samples.append(chans[c][i])
            decoded += take
        got_md5 = hashlib.md5(
            b"".join(struct.pack("<h", s) for s in samples)
        ).digest()
        if got_md5 != want_md5:
            raise ValueError("FLAC decoded-audio md5 mismatch")
        return n_channels, rate, samples

    return encode, decode


#: FLAC codec, built once (same by-value pickling contract as JPEG/GIF)
make_flac, decode_flac = _flac_codec()


def _adpcm_codec():
    """IMA/DVI ADPCM WAV codec (WAVE format tag 0x0011) — the engine's
    COMPRESSED-audio-in-WAV path, 4 bits per sample (4:1 vs int16 PCM).
    Same factory-local by-value-pickling contract as the other codecs.

    - encode: block-structured (4-byte header: exact int16 predictor +
      step index, then 2 samples/byte nibbles, low nibble first), standard
      89-entry step table + index-adjust table, ``fact`` chunk with the
      true sample count, tail-block pad nibbles that hold the predictor.
    - decode: RIFF chunk walk, tag/blocking validation, bit-exact integer
      reconstruction, fact-count truncation.

    ADPCM is lossy, but the DSP is pure integer arithmetic, so
    decode(encode(x)) is a deterministic value-hashable function — and a
    signal that is CONSTANT within each block with ``init_index=0``
    round-trips EXACTLY (the block header stores the first sample
    verbatim; nibble 0 at step 7 decodes to diff = 7>>3 = 0)."""
    import struct

    STEPS = (
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    )
    INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)

    def _clamp16(v):
        return -32768 if v < -32768 else (32767 if v > 32767 else v)

    def _decode_nibble(n, pred, index):
        step = STEPS[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = _clamp16(pred - diff if n & 8 else pred + diff)
        index = max(0, min(88, index + INDEX_ADJ[n & 7]))
        return pred, index

    def _encode_sample(s, pred, index):
        # standard magnitude-bit construction, then update state through
        # the DECODER's arithmetic so both sides stay in lock-step
        step = STEPS[index]
        delta = s - pred
        n = 8 if delta < 0 else 0
        if delta < 0:
            delta = -delta
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        pred, index = _decode_nibble(n, pred, index)
        return n, pred, index

    def encode(samples, rate=8000, *, block_align=256, init_index=0):
        """Encode mono int16 samples into a real IMA-ADPCM WAV (format
        tag 0x0011, ``fact`` chunk carrying the exact sample count)."""
        if not samples:
            raise ValueError("ADPCM needs at least one sample")
        if not 0 <= init_index <= 88:
            raise ValueError("init_index must be in [0, 88]")
        if block_align < 5:
            raise ValueError("block_align must be >= 5 (4-byte header + data)")
        spb = (block_align - 4) * 2 + 1  # samples per block
        blocks = bytearray()
        i = 0
        while i < len(samples):
            chunk = samples[i : i + spb]
            pred = _clamp16(int(chunk[0]))
            index = init_index
            blocks += struct.pack("<hBB", pred, index, 0)
            nibbles = []
            for s in chunk[1:]:
                n, pred, index = _encode_sample(int(s), pred, index)
                nibbles.append(n)
            while len(nibbles) < (block_align - 4) * 2:  # hold-the-predictor pad
                n, pred, index = _encode_sample(pred, pred, index)
                nibbles.append(n)
            for j in range(0, len(nibbles), 2):
                blocks.append(nibbles[j] | (nibbles[j + 1] << 4))
            i += spb
        byte_rate = (rate * block_align + spb - 1) // spb
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, rate, byte_rate, block_align, 4, 2, spb
        )
        fact = struct.pack("<I", len(samples))
        out = bytearray(b"RIFF")
        out += struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(blocks))
        out += b"WAVE"
        out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"fact" + struct.pack("<I", len(fact)) + fact
        out += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
        return bytes(out)

    def decode(data):
        """Decode a mono IMA-ADPCM WAV: returns ``(n_channels, rate,
        samples)`` with bit-exact integer reconstruction."""
        if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE stream")
        pos, fmt, fact_n, blocks = 12, None, None, None
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = struct.unpack_from("<I", data, pos + 4)[0]
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                if len(body) < 20:
                    raise ValueError("ADPCM fmt chunk too short")
                tag, n_ch, rate, _br, block_align, bits, _cb, spb = (
                    struct.unpack_from("<HHIIHHHH", body, 0)
                )
                if tag != 0x11:
                    raise NotImplementedError(
                        f"decode_wav_adpcm handles IMA ADPCM (tag 0x11) only, "
                        f"got 0x{tag:02x}"
                    )
                if n_ch != 1:
                    raise NotImplementedError("mono IMA ADPCM only")
                if bits != 4:
                    raise ValueError("IMA ADPCM bits-per-sample must be 4")
                if block_align < 5 or spb != (block_align - 4) * 2 + 1:
                    raise ValueError("inconsistent ADPCM blocking")
                fmt = (rate, block_align)
            elif cid == b"fact":
                if len(body) < 4:
                    raise ValueError("fact chunk too short")
                fact_n = struct.unpack_from("<I", body, 0)[0]
            elif cid == b"data":
                blocks = body
            pos += 8 + size + (size % 2)  # chunks are word-aligned
        if fmt is None or blocks is None:
            raise ValueError("WAV missing fmt/data chunk")
        rate, block_align = fmt
        samples = []
        for off in range(0, len(blocks), block_align):
            blk = blocks[off : off + block_align]
            if len(blk) < 4:
                raise ValueError("ADPCM block truncated")
            pred, index, _rsv = struct.unpack_from("<hBB", blk, 0)
            if index > 88:
                raise ValueError("ADPCM step index out of range")
            samples.append(pred)
            for byte in blk[4:]:
                for n in (byte & 0xF, byte >> 4):
                    pred, index = _decode_nibble(n, pred, index)
                    samples.append(pred)
        if fact_n is not None:
            if fact_n > len(samples):
                raise ValueError("fact sample count exceeds decoded samples")
            samples = samples[:fact_n]
        return 1, rate, samples

    return encode, decode


#: IMA ADPCM codec, built once (same by-value pickling contract)
make_wav_adpcm, decode_wav_adpcm = _adpcm_codec()


def _y4m_codec():
    """YUV4MPEG2 (Y4M) codec — the engine's SECOND real video container
    (raw uncompressed planes, the interchange format ffmpeg pipelines
    speak). Same factory-local by-value-pickling contract as the others.

    C444 colorspace only (full-resolution Y/Cb/Cr planes — no chroma
    subsampling, so the only loss is the BT.601 integer rounding; GRAY
    content converts losslessly: Y = v, Cb = Cr = 128 exactly, because
    0.299+0.587+0.114 == 1 and the Cb/Cr coefficients sum to 0).

    - encode: ``YUV4MPEG2 W.. H.. F<num>:<den> Ip A1:1 C444`` header,
      then per frame ``FRAME\\n`` + Y plane + Cb plane + Cr plane.
    - decode: header token parse (explicit NotImplementedError for
      subsampled colorspaces), frame walk, YCbCr→RGB with clamping.
    """
    def _clamp8(v):
        return 0 if v < 0 else (255 if v > 255 else v)

    def _rgb_to_ycbcr(r, g, b):
        y = int(round(0.299 * r + 0.587 * g + 0.114 * b))
        cb = int(round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b))
        cr = int(round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b))
        return _clamp8(y), _clamp8(cb), _clamp8(cr)

    def _ycbcr_to_rgb(y, cb, cr):
        r = int(round(y + 1.402 * (cr - 128)))
        g = int(round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)))
        b = int(round(y + 1.772 * (cb - 128)))
        return _clamp8(r), _clamp8(g), _clamp8(b)

    def encode(frames, width, height, *, rate=(25, 1)):
        """Serialize full-frame (r, g, b) pixel lists into a real Y4M
        stream (C444). ``rate`` is the (numerator, denominator) frame
        rate — F25:1 means one frame every 4 centiseconds."""
        num, den = rate
        if num <= 0 or den <= 0:
            raise ValueError("frame rate must be positive")
        if width <= 0 or height <= 0:
            raise ValueError("Y4M dimensions must be positive")
        if not frames:
            raise ValueError("Y4M needs at least one frame")
        out = bytearray(
            f"YUV4MPEG2 W{width} H{height} F{num}:{den} Ip A1:1 C444\n".encode()
        )
        for px in frames:
            if len(px) != width * height:
                raise ValueError("frame pixels length must be width*height")
            out += b"FRAME\n"
            planes = ([], [], [])
            for (r, g, b) in px:
                y, cb, cr = _rgb_to_ycbcr(r, g, b)
                planes[0].append(y)
                planes[1].append(cb)
                planes[2].append(cr)
            for pl in planes:
                out += bytes(pl)
        return bytes(out)

    def decode(data):
        """Decode a Y4M stream: returns ``(height, width, (num, den),
        [pixels, ...])`` with one full RGB pixel list per frame."""
        nl = data.find(b"\n")
        if not data.startswith(b"YUV4MPEG2") or nl < 0:
            raise ValueError("bad Y4M signature")
        width = height = num = den = None
        cspace = "C420"  # the spec default when no C tag is present
        for tok in data[10:nl].split(b" "):
            if not tok:
                continue
            k, v = tok[:1], tok[1:]
            if k == b"W":
                width = int(v)
            elif k == b"H":
                height = int(v)
            elif k == b"F":
                num, den = (int(x) for x in v.split(b":"))
            elif k == b"C":
                cspace = "C" + v.decode("ascii", "replace")
        if not width or not height or not num or not den:
            raise ValueError("Y4M header missing W/H/F parameters")
        if width < 0 or height < 0 or num < 0 or den < 0:
            raise ValueError("Y4M header parameters must be positive")
        if width * height > 16_000_000:
            raise ValueError(f"refusing {width}x{height} Y4M frame (cap: 16M pixels)")
        if cspace != "C444":
            raise NotImplementedError(
                f"Y4M decode supports C444 only (got {cspace}); subsampled "
                f"colorspaces need the chroma-upsample path"
            )
        n = width * height
        pos = nl + 1
        frames = []
        while pos < len(data):
            fnl = data.find(b"\n", pos)
            if fnl < 0 or data[pos : pos + 5] != b"FRAME":
                raise ValueError("bad Y4M FRAME marker")
            pos = fnl + 1
            if pos + 3 * n > len(data):
                raise ValueError("Y4M frame planes truncated")
            ys = data[pos : pos + n]
            cbs = data[pos + n : pos + 2 * n]
            crs = data[pos + 2 * n : pos + 3 * n]
            frames.append(
                [_ycbcr_to_rgb(ys[i], cbs[i], crs[i]) for i in range(n)]
            )
            pos += 3 * n
            if len(frames) > 4096:
                raise ValueError("refusing Y4M with >4096 frames")
        if not frames:
            raise ValueError("Y4M has no frames")
        return height, width, (num, den), frames

    return encode, decode


#: Y4M codec, built once (same by-value pickling contract)
make_y4m, decode_y4m = _y4m_codec()


def transcode_images(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    target: str = "png",
) -> DataFrame:
    """Normalize a mixed image lake to ONE container format — the standard
    preprocessing step before training-data packing (readers want a single
    decode path): strict-decode whatever arrives (BMP / PNG / JPEG
    baseline+progressive / GIF, through :func:`_any_image_decoder`) and
    re-encode to ``target`` ('png', 'bmp' or 'gif'). Lossless end to end
    for every lossless source; JPEG sources carry their (already-final)
    decoded pixels, and PNGs with an alpha channel raise rather than lose
    it.

    Output: ``(id_col, payload, media_type, height, width)`` with the new
    bytes. Arrow-batched mapInPandas, zero shuffles; codec functions are
    factory-locals pickled by value (hostile-cwd-safe). Audio payloads and
    unknown formats raise — transcode is an image op; filter by
    :func:`sniff_media_type` first."""
    if target not in ("png", "bmp", "gif"):
        raise ValueError("target must be 'png', 'bmp' or 'gif'")

    pruned = df.select(id_col, payload)
    decode_rgb = _any_image_decoder()[1]
    genc = _gif_codec()[0]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
        ]
    )
    # re-encoders that round-trip losslessly from RGB tuples; captured by
    # value (module-level make_* are factory-locals, qualname-mismatched)
    enc_png, enc_bmp = make_png_rgb8, make_bmp_24
    media = {"png": "image/png", "bmp": "image/bmp", "gif": "image/gif"}[target]

    def run(it):
        def encode_any(px, w, h):
            if target == "png":
                return enc_png(px, w, h)
            if target == "bmp":
                return enc_bmp(px, w, h)
            return genc(px, w, h)

        for pdf in it:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload]):
                h, w, px = decode_rgb(bytes(b) if b is not None else b"")
                rows.append(
                    {
                        "doc_id": i,
                        "payload": encode_any(px, w, h),
                        "media_type": media,
                        "height": h,
                        "width": w,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "payload", "media_type", "height", "width"],
            )

    return pruned.mapInPandas(run, out_schema)


def _any_video_decoder():
    """Build the container-dispatching VIDEO decoder (animated GIF or
    Y4M → ``(h, w, [(delay_cs, pixels)])`` fully composited) as a
    factory-local, pickled by value — shared by
    :func:`sample_video_frames` and :func:`transcode_videos` so the
    timestamp math and magic dispatch cannot desync."""
    gif_frames = _gif_codec()[3]
    y4m_decode = _y4m_codec()[1]

    def decode_any(data: bytes):
        # animated GIF carries per-frame delays; Y4M has a rational
        # frame rate — timestamps floor to exact centisecond boundaries
        # (t_cs(f) = 100*den*f // num), so the per-frame delays below
        # reproduce that floor cumulatively
        if data[:4] == b"GIF8":
            return gif_frames(data)
        if data[:9] == b"YUV4MPEG2":
            h, w, (num, den), fr = y4m_decode(data)
            delays = [
                (100 * den * (f + 1)) // num - (100 * den * f) // num
                for f in range(len(fr))
            ]
            return h, w, "rgb", list(zip(delays, fr))
        raise NotImplementedError(
            f"video decode handles animated GIF and Y4M; "
            f"{data[:4]!r} needs a perceptual codec (ffmpeg) — plug in here"
        )

    return decode_any


def _any_image_decoder():
    """Build THE image-format dispatcher (BMP/PNG/JPEG/GIF, on the
    container magic) as factory-locals, so closures that capture them
    pickle BY VALUE. Each format has one decoder —
    :func:`decode_bmp_24`, :func:`decode_png_rgb8`,
    :func:`decode_jpeg_baseline`, :func:`decode_gif` — and every image
    stage reaches it through the pair returned here:

    - ``decode_any(data) -> (h, w, mode, px)``, mode 'gray', 'graya',
      'rgb' or 'rgba' as the format decoder returns it;
      :func:`decode_features` folds it to gray, ignoring alpha.
    - ``decode_rgb(data) -> (h, w, [(r, g, b)])`` for the re-encoding
      stages :func:`transcode_images` and :func:`resize_images`: gray
      widens to (v, v, v), and an alpha channel raises, because an RGB
      re-encode would silently drop it."""
    jdec = _jpeg_codec()[1]
    gdec = _gif_codec()[1]
    bdec, pdec = _bmp_png_builders()[2:4]

    def decode_any(data: bytes):
        if data[:2] == b"\xff\xd8":
            return jdec(data)
        if data[:4] == b"GIF8":
            return gdec(data)
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            return pdec(data)
        if data[:2] == b"BM":
            return bdec(data)
        raise NotImplementedError(
            f"image decode handles BMP/PNG/JPEG/GIF; got {data[:4]!r}"
        )

    def decode_rgb(data: bytes):
        h, w, mode, px = decode_any(data)
        if mode == "gray":
            px = [(v, v, v) for v in px]
        elif mode != "rgb":
            raise NotImplementedError(
                f"{mode!r} image has an alpha channel that an RGB re-encode "
                f"would drop; flatten it before this stage"
            )
        return h, w, px

    return decode_any, decode_rgb


def resize_images(
    df: DataFrame,
    dst_w: int,
    dst_h: int,
    method: str = "nearest",
    payload: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """RESIZE stage over binary image payloads — the remaining verb of
    the decode / feature-extract / resize / frame-sample multimodal
    quartet: strict-decode whatever arrives (BMP/PNG/JPEG/GIF, through
    :func:`_any_image_decoder`; alpha PNGs raise), resample to
    ``dst_w × dst_h``, re-encode as PNG.

    Both methods are INTEGER-EXACT (value-hashable, no float resamplers):
    ``nearest`` maps destination pixel (y, x) to source
    ``(y·sh)//dst_h, (x·sw)//dst_w``; ``box`` floor-averages the source
    box spanned by the same index mapping (the area-average downscale
    training pipelines use for thumbnails).

    Output: ``(id, payload, height, width)``. Arrow-batched mapInPandas,
    zero shuffles; codec functions are factory-locals pickled by value."""
    if method not in ("nearest", "box"):
        raise ValueError("method must be 'nearest' or 'box'")
    if dst_w < 1 or dst_h < 1:
        raise ValueError("destination dimensions must be positive")
    decode_rgb = _any_image_decoder()[1]
    enc_png = make_png_rgb8
    pruned = df.select(id_col, payload)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
        ]
    )

    def run(it):
        def nearest(px, sw, sh):
            return [
                px[(y * sh // dst_h) * sw + (x * sw // dst_w)]
                for y in range(dst_h)
                for x in range(dst_w)
            ]

        def box(px, sw, sh):
            out = []
            for y in range(dst_h):
                y0 = y * sh // dst_h
                y1 = max(y0 + 1, (y + 1) * sh // dst_h)
                for x in range(dst_w):
                    x0 = x * sw // dst_w
                    x1 = max(x0 + 1, (x + 1) * sw // dst_w)
                    n = (y1 - y0) * (x1 - x0)
                    sr = sg = sb = 0
                    for yy in range(y0, y1):
                        row = yy * sw
                        for xx in range(x0, x1):
                            r, g, b = px[row + xx]
                            sr += r
                            sg += g
                            sb += b
                    out.append((sr // n, sg // n, sb // n))
            return out

        resample = nearest if method == "nearest" else box
        for pdf in it:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload]):
                h, w, px = decode_rgb(bytes(b) if b is not None else b"")
                rows.append(
                    {
                        "doc_id": i,
                        "payload": enc_png(resample(px, w, h), dst_w, dst_h),
                        "height": dst_h,
                        "width": dst_w,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "payload", "height", "width"]
            )

    return pruned.mapInPandas(run, out_schema)


def transcode_videos(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    target: str = "y4m",
    allow_retiming: bool = False,
) -> DataFrame:
    """Normalize a mixed VIDEO lake to ONE container format — the moving-
    picture twin of :func:`transcode_images`: decode whatever arrives
    (animated GIF with full compositing, or raw YUV4MPEG2) and re-encode
    every frame to ``target`` ('y4m' or 'gif').

    GRAY content survives both directions losslessly (BT.601 maps
    (v, v, v) to Y = v, Cb = Cr = 128 exactly); colored content through a
    Y4M target carries only the ±1 BT.601 integer-rounding wobble, and a
    GIF target needs ≤256 distinct colors per video (the real GIF
    constraint — loud, never silently quantized). Timing is loud too: a
    Y4M target can only carry ONE rate, so non-uniform (or zero) GIF
    delays raise unless ``allow_retiming=True`` opts into rewriting
    every frame to the first frame's delay (F100:d); Y4M rates map back
    to floor-exact centisecond delays losslessly.

    Output: ``(id_col, payload, media_type, n_frames, height, width)``.
    Arrow-batched mapInPandas, zero shuffles; codec functions are
    factory-locals pickled by value (hostile-cwd-safe)."""
    if target not in ("y4m", "gif"):
        raise ValueError("target must be 'y4m' or 'gif'")

    pruned = df.select(id_col, payload)
    decode_any = _any_video_decoder()
    gif_enc_anim = _gif_codec()[2]
    y4m_enc = _y4m_codec()[0]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
        ]
    )
    media = {"y4m": "video/y4m", "gif": "image/gif"}[target]

    def run(it):
        def encode_any(frames, w, h):
            delays = [d for d, _ in frames]
            pixel_lists = [px for _, px in frames]
            if target == "gif":
                return gif_enc_anim(w, h, pixel_lists, delays_cs=delays)
            uniform = delays and delays[0] > 0 and len(set(delays)) == 1
            if not uniform and not allow_retiming:
                raise ValueError(
                    f"non-uniform or zero GIF delays {delays[:6]} cannot be "
                    f"represented at a single Y4M rate — pass "
                    f"allow_retiming=True to rewrite every frame to the "
                    f"first delay"
                )
            d0 = delays[0] if delays and delays[0] > 0 else 4
            return y4m_enc(pixel_lists, w, h, rate=(100, d0))

        for pdf in it:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload]):
                h, w, _mode, frames = decode_any(
                    bytes(b) if b is not None else b""
                )
                rows.append(
                    {
                        "doc_id": i,
                        "payload": encode_any(frames, w, h),
                        "media_type": media,
                        "n_frames": len(frames),
                        "height": h,
                        "width": w,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "payload", "media_type", "n_frames",
                    "height", "width",
                ],
            )

    return pruned.mapInPandas(run, out_schema)


def frame_sample(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 64,
    max_frames: int = 8,
) -> DataFrame:
    """'Frame sampling' plumbing for video-ish payloads: emit up to
    max_frames byte-slices per payload (U4 one-row→many). Pure column ops:
    the slicing itself is substring on binary — a real frame sampler would
    replace the slice expression, the explode/partition shape stays."""
    # last full-or-partial frame starts at floor((len-1)/n): the old
    # floor(len/n) bound emitted one extra ZERO-LENGTH frame whenever the
    # payload length was an exact multiple of every_n_bytes; empty payloads
    # emit no frames at all
    n_bytes = F.length(F.col(payload))
    idx = F.when(
        n_bytes > 0,
        F.sequence(
            F.lit(0),
            F.least(
                F.lit(max_frames - 1),
                F.floor((n_bytes - 1) / every_n_bytes).cast("int"),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(id_col, payload, F.explode(idx).alias("frame_no"))
        .select(
            id_col,
            "frame_no",
            F.substring(
                F.col(payload), F.col("frame_no") * every_n_bytes + 1, every_n_bytes
            ).alias("frame_bytes"),
        )
    )


#: Schema of :func:`sample_video_frames` — one row per SAMPLED frame.
VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("t_cs", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def sample_video_frames(
    df: DataFrame,
    payload: str = "payload",
    id_col: str = "doc_id",
    every: int = 1,
    dim: int = 8,
    mode: str = "gray",
) -> DataFrame:
    """REAL video frame sampling: strict-decode a video payload — animated
    GIF (see :func:`decode_gif_frames`) or raw YUV4MPEG2 (see
    :func:`decode_y4m`), dispatched on the container magic — composite
    every frame onto the logical screen (sub-rectangle deltas,
    transparency, disposal for GIF; BT.601 plane conversion for Y4M),
    keep every ``every``-th composited frame, and emit one row per
    sampled frame:
    its index, start timestamp in centiseconds (cumulative GCE delays of
    the frames before it), the total frame count, canvas dims, and
    ``dim`` segment-mean features of the composited canvas —
    ``mode='gray'`` averages channels per pixel (hue-blind);
    ``mode='rgb'`` interleaves r,g,b per pixel (``dim`` = 3×pixels is
    channel-exact — the color-faithful input for
    :func:`video_fingerprints`).

    Arrow-batched ``mapInPandas`` over a pruned (id, payload) projection —
    the same shuffle-free decode-stage shape as :func:`decode_features`;
    at cluster scale each task decodes its own partition's payloads and
    nothing is collected. Replaces the byte-slice plumbing of
    :func:`frame_sample` with a real decoder (reference has no video path
    at all — this is engine-only surface).
    """
    if every < 1:
        raise ValueError("every must be >= 1")
    if mode not in ("gray", "rgb"):
        raise ValueError("mode must be 'gray' or 'rgb'")
    pruned = df.select(id_col, payload)
    decode_any = _any_video_decoder()  # factory-local => pickled by value
    segment_means = _segment_means()
    out_columns = [f.name for f in VIDEO_FRAME_SCHEMA.fields]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload]):
                data = bytes(b) if b is not None else b""
                h, w, _mode, frames = decode_any(data)
                t_cs = 0
                for fno, (delay, px) in enumerate(frames):
                    if fno % every == 0:
                        if mode == "rgb":
                            gray = [c / 255.0 for p in px for c in p]
                        else:
                            gray = [
                                (r + g + bb) / 3.0 / 255.0 for (r, g, bb) in px
                            ]
                        rows.append(
                            {
                                "doc_id": i,
                                "frame_index": fno,
                                "t_cs": t_cs,
                                "n_frames": len(frames),
                                "height": h,
                                "width": w,
                                "features": segment_means(gray, dim),
                            }
                        )
                    t_cs += delay
            yield pd.DataFrame(rows, columns=out_columns)

    return pruned.mapInPandas(run, VIDEO_FRAME_SCHEMA)


def detect_scene_cuts(
    frames: DataFrame,
    threshold: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Scene-cut detection over sampled video frames — takes the output
    of :func:`sample_video_frames` (with ``dim`` == pixel count so
    features are per-pixel) and flags frames whose integer L1 pixel
    distance to the previous frame reaches ``threshold``.

    ``features * 255`` rounds back to the EXACT pixel bytes (float32 of
    v/255 carries ≤2^-24 relative error), so the distance is exact
    integer arithmetic — value-hashable, no float-comparison seams.

    Pure Catalyst, no Python in the loop: ``transform`` recovers the
    byte array, ``lag`` over a per-video window fetches the previous
    frame, ``zip_with``+``aggregate`` fold the |Δ| sum JVM-side. The only
    shuffle is the hash exchange on ``doc_id`` for the window — at
    cluster scale each video's frame rows co-locate on one partition
    (fine for clip-scale media; hour-long videos would want a
    range-partitioned two-pass instead)."""
    from pyspark.sql.window import Window

    px = F.transform(
        "features", lambda x: F.round(x * 255).cast("long")
    )
    w = Window.partitionBy(id_col).orderBy("frame_index")
    with_prev = frames.withColumn("_px", px).withColumn(
        "_prev", F.lag("_px").over(w)
    )
    dist = F.when(
        F.col("_prev").isNotNull(),
        F.aggregate(
            F.zip_with("_px", "_prev", lambda a, b: F.abs(a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return (
        with_prev.withColumn("dist", dist)
        .withColumn(
            "is_cut",
            F.when(F.col("dist").isNotNull(), F.col("dist") >= threshold),
        )
        .drop("_px", "_prev")
    )


def detect_silence(
    feats: DataFrame,
    window: int = 256,
    threshold: int = 1_000_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Silence/energy segmentation over decoded MONO audio — the audio
    twin of :func:`detect_scene_cuts`: recover the exact int16 samples
    from the float32 features (v/32768 is EXACT in float32 — a
    power-of-two divisor, 16 significant bits fit the 24-bit mantissa;
    requires ``dim`` == sample count and mono input), window them, and
    compute the integer sum-of-squares energy per window.

    ``is_silent`` = energy < threshold. Pure Catalyst after the decode
    stage: posexplode → integer window id → one hash aggregation; at
    cluster scale this is the standard explode-then-reaggregate shape
    with no per-audio state outside the groupBy."""
    if window < 1:
        raise ValueError("window must be >= 1")
    s = feats.select(
        id_col,
        F.posexplode("features").alias("i", "_v"),
    ).withColumn("_sample", F.round(F.col("_v") * 32768).cast("long"))
    w = s.withColumn("win", (F.col("i") / window).cast("int"))
    return (
        w.groupBy(id_col, "win")
        .agg(
            F.sum(F.col("_sample") * F.col("_sample")).alias("energy"),
            F.count("*").cast("long").alias("n_samples"),
        )
        .withColumn("is_silent", F.col("energy") < threshold)
    )


def audio_fingerprints(
    feats: DataFrame,
    window: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Volume-invariant audio fingerprint — the AUDIO member of the
    perceptual-dedup family (aHash for images, md5 frame-sig for video):
    recover the exact int16 samples from the float32 features (mono,
    ``dim`` == sample count; v/32768 is float32-EXACT, see
    :func:`detect_silence`), window them to integer sum-of-|sample|
    energies, and pack the SIGN of each consecutive-energy delta into a
    bit of one long. Uniform volume scaling multiplies every window
    energy by the same factor, so the delta signs — and the fingerprint
    — are unchanged: a re-encoded louder/quieter copy of the same audio
    lands in the same dedup bucket while raw-byte hashing splits them.

    Returns ``(id_col, fingerprint, n_windows)``. Pure Catalyst:
    posexplode → window-id hash agg → per-doc lag (rows per doc ==
    window count, bounded) → one packing agg; no UDF, no all-pairs.

    Clips longer than 64 windows: JVM long shifts are mod 64, so a naive
    shiftleft pack would silently alias window 65 onto window 1 (ADVICE
    r8). Windows 1-64 pack positionally as before (bit = win-1); every
    window ≥ 65 folds into the same long by XOR-ing xxhash64(win) when
    its delta-sign bit is set — distinct sign patterns keep distinct
    fingerprints w.h.p., volume invariance is unchanged (the folded term
    depends only on the bit), and clips ≤ 65 windows keep their exact
    pre-fix fingerprints (the overflow term is 0)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    from pyspark.sql.window import Window

    s = (
        feats.select(id_col, F.posexplode("features").alias("i", "_v"))
        .withColumn("_sample", F.round(F.col("_v") * 32768).cast("long"))
        .withColumn("win", (F.col("i") / window).cast("int"))
    )
    e = s.groupBy(id_col, "win").agg(
        F.sum(F.abs(F.col("_sample"))).alias("energy")
    )
    w = Window.partitionBy(id_col).orderBy("win")
    # window 0 has no predecessor: its bit is pinned 0 rather than the
    # row filtered out, so a clip shorter than two windows still returns
    # (fingerprint=0, n_windows=1) instead of vanishing from the output
    bits = e.withColumn("_prev", F.lag("energy").over(w)).withColumn(
        "bit",
        (
            F.col("_prev").isNotNull() & (F.col("energy") > F.col("_prev"))
        ).cast("long"),
    )
    base = F.sum(
        F.expr("IF(win <= 64, bit * shiftleft(1L, greatest(win, 1) - 1), 0L)")
    )
    overflow = F.expr("bit_xor(IF(win >= 65 AND bit = 1, xxhash64('afp', win), 0L))")
    return bits.groupBy(id_col).agg(
        base.bitwiseXOR(overflow).alias("fingerprint"),
        (F.max("win") + 1).cast("long").alias("n_windows"),
    )


def resample_audio(
    feats: DataFrame,
    factor: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer DECIMATION over decoded mono audio — the audio twin of
    :func:`resize_images`' box mode: recover the exact int16 samples
    from the float32 features (``dim`` == sample count, see
    :func:`detect_silence`), group every ``factor`` consecutive samples,
    and emit their floor-average (floor(sum/count) — window sums of
    int16 samples sit far below 2^53, so the double division is exact
    and FLOOR semantics hold for negative sums too, unlike `div`'s
    truncation; the tail window may be shorter and averages what it
    has).

    Output: one row per output sample ``(id, i, sample)``. Pure
    Catalyst after the decode stage: posexplode → window id → one hash
    aggregation."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    s = feats.select(
        id_col, F.posexplode("features").alias("_i", "_v")
    ).withColumn("_sample", F.round(F.col("_v") * 32768).cast("long"))
    w = s.withColumn("i", (F.col("_i") / factor).cast("int"))
    return (
        w.groupBy(id_col, "i")
        .agg(
            F.floor(F.sum("_sample") / F.count("*")).cast("long").alias("sample"),
            F.count("*").cast("int").alias("n_in"),
        )
    )


def video_fingerprints(
    frames: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT video-level fingerprint from sampled frames — the video leg
    of the dedup machinery: recover the exact feature bytes
    (round(f·255), see :func:`detect_scene_cuts`), serialize every frame
    in index order, md5 the whole stream. Two videos share a fingerprint
    iff every sampled frame's FEATURE bytes match bit-for-bit, so
    ``groupBy(video_sig)`` is exact dedup **of the sampled feature
    projection**. Feed it ``sample_video_frames(mode='rgb',
    dim=3·pixels)`` for COLOR-EXACT fingerprints (each channel byte
    recovered bit-for-bit); the default gray mode is bit-exact for gray
    content but hue-blind — frames whose colors differ with equal
    (r+g+b) collide (e.g. pure red vs pure green).

    Pure Catalyst: transform/array_join per frame, one groupBy on the
    video id with collect_list + array_sort (frame counts are bounded by
    the sampler's 4096-frame cap, so the per-group list is small), md5
    JVM-side. One hash exchange."""
    px_str = F.array_join(
        F.transform(
            "features", lambda x: F.round(x * 255).cast("long").cast("string")
        ),
        ",",
    )
    per = frames.select(id_col, "frame_index", px_str.alias("_f"))
    return per.groupBy(id_col).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("frame_index", "_f"))),
                    lambda s: s["_f"],
                ),
                "|",
            )
        ).alias("video_sig")
    )


def align_captions_to_frames(
    frames: DataFrame,
    captions: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Align sampled video frames to SRT caption cues — the join that
    builds video/caption training pairs: frame timestamp (``t_cs`` in
    centiseconds → ms) within ``[start_ms, end_ms]`` of a cue of the
    SAME video. LEFT join, so uncaptioned frames survive with NULL cue
    columns (they're the negatives a contrastive pair-builder wants).

    Input shapes: ``frames`` from :func:`sample_video_frames`;
    ``captions`` from :func:`text.parse_srt`. The join is an equi-join
    on the video id with the range as a residual predicate — one hash
    exchange per side, no theta-join blowup, same plan family as the
    engine's price-band range joins."""
    f = frames.withColumn("t_ms", F.col("t_cs") * 10)
    c = captions.select(
        F.col(id_col).alias("_cid"),
        "cue_index",
        "start_ms",
        "end_ms",
        F.col("text").alias("caption"),
    )
    return f.join(
        c,
        (f[id_col] == c["_cid"])
        & (F.col("t_ms") >= F.col("start_ms"))
        & (F.col("t_ms") <= F.col("end_ms")),
        "left",
    ).select(
        f[id_col].alias(id_col),
        "frame_index",
        "t_ms",
        "cue_index",
        "start_ms",
        "end_ms",
        "caption",
    )


def average_hash(
    df: DataFrame,
    features: str = "features",
    id_col: str = "doc_id",
    dim: int = 8,
) -> DataFrame:
    """Perceptual average-hash (aHash) over a decoded feature vector: bit i
    is set iff feature i exceeds the vector's mean — the classical
    image-dedup fingerprint, applied to whatever :func:`decode_features`
    (or a real codec) produced. Returns ``(id_col, ahash)``; equal hashes
    are near-dup candidates and :func:`dedup.hamming_distance` grades
    borderline pairs.

    The mean comparison is written as ``feature·dim > Σfeatures`` with an
    EXPLICIT left-associated sum (not a fold helper), so the float result
    is bit-identical across engines and the fingerprint — like simhash —
    is value-hashable. Pure narrow projection: zero shuffles."""
    total = " + ".join(
        f"CAST(element_at({features}, {i + 1}) AS DOUBLE)" for i in range(dim)
    )
    bits = " + ".join(
        f"(CASE WHEN CAST(element_at({features}, {i + 1}) AS DOUBLE) * {dim}"
        f" > ({total}) THEN CAST({1 << i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(dim)
    )
    return df.selectExpr(f"{id_col} AS doc_id", f"{bits} AS ahash")


def _atomic_publish():
    """Factory for the task-retry-atomic publish step shared by the
    binary/tar/zip sinks (factory-built so cloudpickle ships it by VALUE
    inside worker closures — same hostile-cwd discipline as the codecs).

    The returned ``publish(final_path, blob)`` stages the bytes to a
    dot-prefixed unique temp name in the same directory
    (``.<name>.<uuid>.tmp`` — invisible to Spark file sources AND to the
    sinks' own ``*.bin``/``*.tar*``/``*.zip`` read globs), fsyncs, then
    ``os.replace``-renames onto the final path. Guarantees under the
    failures a 100 TB run makes routine:

    - task killed mid-write → only an orphan hidden ``.tmp`` remains;
      the final name is either absent or a previous COMPLETE version;
    - retry racing a zombie predecessor / speculative duplicate → each
      attempt owns a unique temp; ``os.replace`` is atomic, last complete
      attempt wins, and shard bytes are deterministic so the winners are
      byte-identical;
    - a raised exception best-effort unlinks the attempt's own temp
      (never another attempt's — names are unique per attempt).

    ``_fail_after`` (test seam) injects a crash after N bytes to prove
    the torn-write window never reaches the final path."""

    def publish(final_path, blob, _fail_after=None):
        import os as _os
        import uuid as _uuid

        d, name = _os.path.split(final_path)
        tmp = _os.path.join(d, f".{name}.{_uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "wb") as fh:
                if _fail_after is not None:
                    fh.write(blob[:_fail_after])
                    fh.flush()
                    raise RuntimeError(
                        "injected mid-write failure (_fail_after)"
                    )
                fh.write(blob)
                fh.flush()
                _os.fsync(fh.fileno())
            _os.replace(tmp, final_path)
        except BaseException:
            try:
                _os.unlink(tmp)
            except OSError:
                pass
            raise

    return publish


def write_binary_files(
    df: DataFrame, out_dir: str, id_col: str = "doc_id", payload: str = "payload"
) -> None:
    """Binary-file SINK: one ``<id>.bin`` per row, written executor-side
    (foreachPartition — no driver collect, so the write scales with
    partitions). Names are derived from the id column, so re-runs are
    idempotent overwrites. Requires ``out_dir`` on a filesystem all
    executors share (local mode / NFS / fuse-mounted object store); on
    HDFS/S3 proper, swap the ``open`` for an fsspec/Hadoop stream — the
    partitioning story is identical.

    Task-retry-atomic: each file is staged to a dot-prefixed unique temp
    name and published with ``os.replace`` (see :func:`_atomic_publish`),
    so a task killed mid-write, a retry racing its zombie predecessor, or
    a speculative duplicate can never expose a torn file at the final
    path."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    publish = _atomic_publish()

    def dump(rows):
        import os as _os

        for r in rows:
            # fail CLEAN on bad rows: bytes(None) inside foreachPartition
            # surfaces as an opaque pickled executor traceback otherwise
            if r[id_col] is None or r[payload] is None:
                raise ValueError(
                    f"write_binary_files: NULL {id_col if r[id_col] is None else payload}"
                    f" (id={r[id_col]!r}) — filter or fill before sinking"
                )
            publish(
                _os.path.join(out_dir, f"{r[id_col]}.bin"), bytes(r[payload])
            )

    df.select(id_col, payload).foreachPartition(dump)


def read_binary_files(spark, path: str, glob: str = "*.bin") -> DataFrame:
    """Binary-file SOURCE: Spark's built-in ``binaryFile`` format — the
    real ingestion shape for image/audio/video blobs at scale (one row per
    file: path, modificationTime, length, content). Files are split across
    tasks by Spark's file index, so a 100 TB blob store scans exactly like
    any other file source; pair with ``decode_features`` downstream."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


#: Manifest schema of :func:`write_tar_shards` — one row per shard.
TAR_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_members", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

#: Row schema of :func:`read_tar_shards` — one row per tar member.
TAR_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("member", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def write_tar_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    payload: str = "payload",
    ext: str = "bin",
    member_col: str | None = None,
    compress: bool = False,
) -> DataFrame:
    """WebDataset-style TAR shard SINK — the standard container for
    multimodal training data: pack ``(id, payload)`` rows into
    ``shard-%05d.tar`` files, one member ``<id>.<ext>`` per row.

    Shard membership is a deterministic id hash (rerun-stable, no
    ``rand()``), members are sorted by id within a shard, and tar
    headers are normalized (mtime 0, uid/gid 0, mode 0644) so shard
    BYTES are reproducible. One ``applyInPandas`` group per shard — the
    shard is the unit of parallelism, exactly how WebDataset writers
    scale: 100 TB = more shards, not bigger ones. Size shards so one
    fits executor memory (the usual 100 MB–1 GB WebDataset guidance).

    ``member_col`` names multi-member samples: when set, member names
    come from that column verbatim (e.g. ``<id>.txt`` AND ``<id>.json``
    rows sharing an ``id_col`` stem land in the SAME shard — the
    WebDataset sample-locality contract — because sharding hashes
    ``id_col``, not the member name).

    ``compress=True`` writes ``shard-%05d.tar.gz`` — the gzip stream is
    built with ``mtime=0`` and a fixed name, so compressed shard bytes
    stay rerun-deterministic too; :func:`read_tar_shards` auto-detects
    compression per shard (``r:*``).

    Returns the shard manifest ``(shard, n_members, n_bytes)`` — an
    ACTION on it performs the write. Same shared-filesystem contract as
    :func:`write_binary_files`; same task-retry atomicity (shards are
    staged to hidden unique temp names and published with ``os.replace``
    via :func:`_atomic_publish` — a killed task or speculative duplicate
    never exposes a torn shard)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    cols = [id_col, payload] + ([member_col] if member_col else [])
    publish = _atomic_publish()

    def build(key, pdf):
        import io as _io
        import os as _os
        import tarfile

        import pandas as _pd

        k = int(key[0])
        pdf = pdf.sort_values([id_col, member_col] if member_col else id_col)
        names = (
            pdf[member_col].astype(str)
            if member_col
            else pdf[id_col].astype(str) + f".{ext}"
        )
        dup = names[names.duplicated()]
        if len(dup):
            # duplicate names would write a corrupt-for-readers tar AND
            # make shard bytes depend on shuffle arrival order of the
            # tied rows — refuse loudly instead
            raise ValueError(
                f"write_tar_shards: duplicate member name(s) "
                f"{sorted(set(dup))[:3]!r} — member names must be unique"
            )
        buf = _io.BytesIO()
        if compress:
            import gzip

            # mtime=0 + empty filename keep gzip bytes deterministic
            sink = gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, filename="")
        else:
            sink = buf
        with tarfile.open(
            fileobj=sink, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for _, row in pdf.iterrows():
                i, b = row[id_col], row[payload]
                if b is None:
                    raise ValueError(
                        f"write_tar_shards: NULL payload (id={i!r}) — "
                        f"filter or fill before sinking"
                    )
                data = bytes(b)
                info = tarfile.TarInfo(
                    name=str(row[member_col]) if member_col else f"{i}.{ext}"
                )
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, _io.BytesIO(data))
        if compress:
            sink.close()  # flush the gzip trailer before reading buf
        blob = buf.getvalue()
        suffix = ".tar.gz" if compress else ".tar"
        publish(_os.path.join(out_dir, f"shard-{k:05d}{suffix}"), blob)
        return _pd.DataFrame(
            [{"shard": k, "n_members": len(pdf), "n_bytes": len(blob)}]
        )

    return (
        df.select(*cols)
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandas(build, TAR_MANIFEST_SCHEMA)
    )


def write_zip_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    payload: str = "payload",
    ext: str = "bin",
    compress: bool = False,
) -> DataFrame:
    """ZIP twin of :func:`write_tar_shards` — the other archive format
    data actually arrives in: pack ``(id, payload)`` rows into
    ``shard-%05d.zip`` files (deflate when ``compress=True``, stored
    otherwise). Same determinism discipline: id-hash shard membership,
    id-sorted members, pinned 1980-01-01 timestamps and zeroed
    attributes so shard bytes are rerun-stable; duplicate member names
    are refused. Returns the ``(shard, n_members, n_bytes)`` manifest —
    an ACTION on it performs the write. Same task-retry atomicity as
    :func:`write_tar_shards` (hidden temp + ``os.replace`` via
    :func:`_atomic_publish`)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    publish = _atomic_publish()

    def build(key, pdf):
        import io as _io
        import os as _os
        import zipfile

        import pandas as _pd

        k = int(key[0])
        pdf = pdf.sort_values(id_col)
        names = pdf[id_col].astype(str) + f".{ext}"
        dup = names[names.duplicated()]
        if len(dup):
            raise ValueError(
                f"write_zip_shards: duplicate member name(s) "
                f"{sorted(set(dup))[:3]!r} — member names must be unique"
            )
        method = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
        buf = _io.BytesIO()
        with zipfile.ZipFile(buf, "w", compression=method) as zf:
            for i, b in zip(pdf[id_col], pdf[payload]):
                if b is None:
                    raise ValueError(
                        f"write_zip_shards: NULL payload (id={i!r}) — "
                        f"filter or fill before sinking"
                    )
                info = zipfile.ZipInfo(
                    filename=f"{i}.{ext}", date_time=(1980, 1, 1, 0, 0, 0)
                )
                info.compress_type = method
                info.external_attr = 0o644 << 16
                zf.writestr(info, bytes(b))
        blob = buf.getvalue()
        publish(_os.path.join(out_dir, f"shard-{k:05d}.zip"), blob)
        return _pd.DataFrame(
            [{"shard": k, "n_members": len(pdf), "n_bytes": len(blob)}]
        )

    return (
        df.select(id_col, payload)
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandas(build, TAR_MANIFEST_SCHEMA)
    )


def read_zip_members(spark, path: str, glob: str = "*.zip") -> DataFrame:
    """ZIP archive SOURCE: ``binaryFile`` over the archives (one task
    per archive), stdlib zipfile member walk — one row per regular
    member ``(shard, member, payload)``; directory entries are
    skipped. CRC-32 is verified by the stdlib reader on extraction, so
    a corrupted member fails its own task loudly."""
    return _zip_member_walk(read_binary_files(spark, path, glob=glob))


def read_zip_members_stream(spark, path: str, glob: str = "*.zip") -> DataFrame:
    """STREAMING twin of :func:`read_zip_members`: zip archives ARRIVING
    in a directory become a member stream — ``readStream`` over
    binaryFile + the same stateless member walk, so stream ≡ batch row
    for row (same discipline as :func:`read_tar_shards_stream`)."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(schema)  # streaming file sources require an explicit schema
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return _zip_member_walk(files)


def _zip_member_walk(files: DataFrame) -> DataFrame:
    """Stateless zip member walk shared by the batch and streaming zip
    sources: one output row per regular member, directories skipped,
    CRC-32 verified by the stdlib reader on extraction."""

    def walk(it):
        import io as _io
        import os as _os
        import zipfile

        import pandas as _pd

        for pdf in it:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(_io.BytesIO(bytes(content))) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        rows.append(
                            {
                                "shard": _os.path.basename(p),
                                "member": info.filename,
                                "payload": zf.read(info),
                            }
                        )
            yield _pd.DataFrame(rows, columns=["shard", "member", "payload"])

    return files.select("path", "content").mapInPandas(walk, TAR_MEMBER_SCHEMA)


def group_tar_samples(
    members: DataFrame, sample_col: str = "sample_id"
) -> DataFrame:
    """WebDataset SAMPLE grouping: members named ``<stem>.<ext>`` with
    the same stem form ONE training sample (the ``000001.jpg`` +
    ``000001.txt`` + ``000001.json`` convention). Returns one row per
    stem with an ext→payload map and the member count.

    Pure Catalyst: regexp stem/ext split, one groupBy on the stem,
    map_from_entries over the sorted (ext, payload) structs —
    deterministic map order, duplicate exts would surface as a
    map-key error rather than silent last-wins. Members WITHOUT an
    extension (``README``) and dotfiles (``.gitignore``) keep their
    full name as the stem with ext ``''`` — they become their own
    single-part samples instead of merging into a phantom ``''``
    stem."""
    split = r"^(.*)\.([^.]+)$"
    raw_stem = F.regexp_extract("member", split, 1)
    per = members.select(
        F.when(raw_stem != "", raw_stem)
        .otherwise(F.col("member"))
        .alias(sample_col),
        F.when(raw_stem != "", F.regexp_extract("member", split, 2))
        .otherwise(F.lit(""))
        .alias("_ext"),
        "payload",
    )
    return per.groupBy(sample_col).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_ext", "payload")))
        ).alias("parts"),
        F.count("*").cast("int").alias("n_parts"),
    )


def read_tar_shards(spark, path: str, glob: str = "*.tar*") -> DataFrame:
    """WebDataset-style TAR shard SOURCE: ``binaryFile`` over the shards
    (Spark's file index assigns one task per shard — the WebDataset
    parallelism contract), then a mapInPandas member walk yielding one
    row per regular member: ``(shard, member, payload)``. Stdlib
    tarfile over an in-memory stream; non-file members (dirs, links)
    are skipped."""
    return _tar_member_walk(read_binary_files(spark, path, glob=glob))


def read_tar_shards_stream(spark, path: str, glob: str = "*.tar*") -> DataFrame:
    """STREAMING twin of :func:`read_tar_shards`: shards ARRIVING in a
    directory (the way WebDataset exports land from an upstream job)
    become a member stream — ``readStream`` over binaryFile + the same
    stateless member walk, so stream ≡ batch row for row."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(schema)  # streaming file sources require an explicit schema
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return _tar_member_walk(files)


def _tar_member_walk(files: DataFrame) -> DataFrame:
    def walk(it):
        import io as _io
        import os as _os
        import tarfile

        import pandas as _pd

        for pdf in it:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                with tarfile.open(
                    fileobj=_io.BytesIO(bytes(content)), mode="r:*"
                ) as tf:
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue
                        rows.append(
                            {
                                "shard": _os.path.basename(p),
                                "member": m.name,
                                "payload": tf.extractfile(m).read(),
                            }
                        )
            yield _pd.DataFrame(rows, columns=["shard", "member", "payload"])

    return files.select("path", "content").mapInPandas(walk, TAR_MEMBER_SCHEMA)


# ---------------------------------------------------------------------------
# MP3 (MPEG Layer III) CONTAINER layer — frame index + stream stats.
#
# Scope note (the honest boundary of the perceptual-codec seam,
# VERDICT r5 "Next round" #4): JPEG/FLAC/GIF strict decode was feasible in
# stdlib because those formats carry their entropy-coding tables IN-BAND
# (DHT segments, Rice parameters, LZW dictionaries) — the decoder derives
# everything from the file. MP3 is different in kind: the 34 Layer III
# Huffman code tables (ISO 11172-3 Table B.7, ~2,000 codeword entries) and
# the 512-tap synthesis-window prototype (Table B.3) are OUT-OF-BAND spec
# constants. They cannot be derived algorithmically, and with no reference
# decoder or spec text in this environment, hand-entered tables would be
# unverifiably wrong (a self-consistent encode/decode pair would pass its
# own tests while mis-decoding every real MP3 — worse than an explicit
# seam). What IS implementable and verifiable here is the CONTAINER layer:
# sync walk, header field decode (version/layer/bitrate/samplerate/padding/
# mode), ID3v2/ID3v1 tag handling, CRC presence, frame sizing and duration
# math — validated structurally against real MP3 bytes (every predicted
# frame boundary must land on a sync word, and the walk must tile the file
# exactly). PCM decode remains the documented NotImplementedError seam
# where ffmpeg/minimp3 plug in.
# ---------------------------------------------------------------------------

#: Row schema of :func:`mp3_frame_index` — one row per MPEG audio frame.
MP3_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("version", T.StringType()),
        T.StructField("layer", T.IntegerType()),
        T.StructField("crc_protected", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("padding", T.IntegerType()),
        T.StructField("channel_mode", T.StringType()),
        T.StructField("frame_bytes", T.IntegerType()),
        T.StructField("samples", T.IntegerType()),
    ]
)

#: MPEG-1 Layer III bitrates (kbps) by header index; 0 = free, 15 = bad.
MP3_BITRATES_V1L3 = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320
)
#: MPEG-2/2.5 Layer III bitrates (kbps).
MP3_BITRATES_V2L3 = (
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160
)
#: sample rates by (version, index)
MP3_RATES = {
    "MPEG1": (44100, 48000, 32000),
    "MPEG2": (22050, 24000, 16000),
    "MPEG2.5": (11025, 12000, 8000),
}
MP3_CHANNEL_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


def _mp3_walker():
    """Factory for the MP3 frame walker (factory-local => pickled by
    VALUE inside worker closures, the house hostile-cwd contract).

    Returns ``walk(data) -> (frames, id3v2_bytes, id3v1_bytes)`` where
    ``frames`` is a list of per-frame dicts. STRICT: every predicted
    frame boundary must land on a sync word and the frames + tags must
    tile the payload exactly — a mid-stream glitch raises instead of
    resyncing silently (resync hides corruption from a data pipeline).
    Layer III only (Layers I/II raise NotImplementedError); free-format
    bitrate (index 0) raises NotImplementedError (frame length is not
    computable without decoding)."""

    def walk(data: bytes):
        pos, n = 0, len(data)
        id3v2 = 0
        if data[:3] == b"ID3" and n >= 10:
            # syncsafe 28-bit size, excludes the 10-byte header
            sz = (
                ((data[6] & 0x7F) << 21)
                | ((data[7] & 0x7F) << 14)
                | ((data[8] & 0x7F) << 7)
                | (data[9] & 0x7F)
            )
            id3v2 = 10 + sz + (10 if data[5] & 0x10 else 0)  # footer flag
            pos = id3v2
        end = n
        id3v1 = 0
        if n - pos >= 128 and data[n - 128 : n - 125] == b"TAG":
            id3v1 = 128
            end = n - 128
        frames = []
        while pos < end:
            if end - pos < 4:
                raise ValueError(
                    f"mp3: {end - pos} trailing bytes at offset {pos} are "
                    "not a frame header"
                )
            b0, b1, b2, b3 = data[pos : pos + 4]
            if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
                raise ValueError(f"mp3: lost sync at offset {pos}")
            version = {0: "MPEG2.5", 2: "MPEG2", 3: "MPEG1"}.get((b1 >> 3) & 3)
            layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 3)
            if version is None or layer is None:
                raise ValueError(f"mp3: reserved version/layer at {pos}")
            if layer != 3:
                raise NotImplementedError(
                    f"mp3 walker handles Layer III only (got Layer {layer})"
                )
            crc_protected = 0 if (b1 & 1) else 1  # bit is 0 when CRC present
            br_idx = (b2 >> 4) & 0xF
            sr_idx = (b2 >> 2) & 3
            padding = (b2 >> 1) & 1
            if br_idx == 0:
                raise NotImplementedError(
                    "mp3 free-format bitrate: frame length is not computable "
                    "from the header"
                )
            if br_idx == 15 or sr_idx == 3:
                raise ValueError(f"mp3: invalid bitrate/samplerate at {pos}")
            bitrate = (
                MP3_BITRATES_V1L3 if version == "MPEG1" else MP3_BITRATES_V2L3
            )[br_idx]
            rate = MP3_RATES[version][sr_idx]
            # Layer III frame sizing: MPEG-1 has 1152 samples/frame
            # (coef 144 = 1152/8); MPEG-2/2.5 halve it
            samples = 1152 if version == "MPEG1" else 576
            frame_bytes = (samples // 8) * bitrate * 1000 // rate + padding
            mode = MP3_CHANNEL_MODES[(b3 >> 6) & 3]
            if pos + frame_bytes > end:
                raise ValueError(
                    f"mp3: frame at {pos} overruns the payload "
                    f"({frame_bytes} bytes, {end - pos} available)"
                )
            frames.append(
                {
                    "offset": pos,
                    "version": version,
                    "layer": layer,
                    "crc_protected": crc_protected,
                    "bitrate_kbps": bitrate,
                    "sample_rate": rate,
                    "padding": padding,
                    "channel_mode": mode,
                    "frame_bytes": frame_bytes,
                    "samples": samples,
                }
            )
            pos += frame_bytes
        if not frames:
            raise ValueError("mp3: no audio frames found")
        return frames, id3v2, id3v1

    return walk


def make_mp3_frames(
    frames: list[tuple[int, int, int]], mode: str = "mono", id3v1: bool = False
) -> bytes:
    """Write-side twin of the walker: serialize MPEG-1 Layer III frame
    HEADERS with deterministic filler payloads (the main_data bytes are a
    doc-id-free 0x00 fill — container-valid, content-free). ``frames`` is
    a list of (bitrate_kbps, sample_rate, padding). Used by fixtures and
    the registry row; real entropy-coded content is the documented seam."""
    out = bytearray()
    for bitrate, rate, padding in frames:
        br_idx = MP3_BITRATES_V1L3.index(bitrate)
        sr_idx = MP3_RATES["MPEG1"].index(rate)
        mode_idx = MP3_CHANNEL_MODES.index(mode)
        hdr = bytes(
            [
                0xFF,
                0xFB,  # MPEG1, Layer III, no CRC
                (br_idx << 4) | (sr_idx << 2) | (padding << 1),
                mode_idx << 6,
            ]
        )
        frame_bytes = 144 * bitrate * 1000 // rate + padding
        out += hdr + b"\x00" * (frame_bytes - 4)
    if id3v1:
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


def mp3_frame_index(
    df: DataFrame, payload: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """MP3 CONTAINER index: one row per MPEG audio frame — offset, header
    fields, frame size, sample count. The audio-ingest analogue of
    `mm_video_frames`' container walk: everything a 100 TB curation
    pipeline needs for audio stats/dedup/routing (duration, bitrate
    histogram, VBR detection) without touching the perceptual decode
    seam. mapInPandas over pruned (id, payload); shuffle-free."""
    pruned = df.select(id_col, payload)
    walk = _mp3_walker()
    out_columns = [f.name for f in MP3_FRAME_SCHEMA.fields]

    def run(it):
        import pandas as _pd

        for pdf in it:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload]):
                frames, _v2, _v1 = walk(bytes(b))
                for k, fr in enumerate(frames):
                    rows.append({"doc_id": i, "frame_idx": k, **fr})
            yield _pd.DataFrame(rows, columns=out_columns)

    return pruned.mapInPandas(run, MP3_FRAME_SCHEMA)


def mp3_stats(
    df: DataFrame, payload: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document MP3 stream stats from the frame index: frame count,
    byte count, duration (exact integer micros), mean bitrate, VBR flag.

    Duration math (ADVICE r6): samples are summed PER (doc, sample_rate)
    FIRST and the integer division by the rate happens once per rate
    group — flooring per frame would accumulate up to ~1 µs of error per
    frame (measurable on hour-long streams); per-rate-group flooring is
    exact for the universal single-rate stream and within #rates µs for
    pathological mixed-rate concatenations. Two cheap hash aggregates on
    (doc, rate) then doc — still one shuffle tree, map-side combining."""
    idx = mp3_frame_index(df, payload, id_col)
    per_rate = idx.groupBy("doc_id", "sample_rate").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("frame_bytes").cast("long").alias("_bytes"),
        F.sum(F.col("samples").cast("long")).alias("_samples"),
        F.sum(F.col("bitrate_kbps").cast("long")).alias("_kbps_sum"),
        F.collect_set("bitrate_kbps").alias("_rates"),  # ≤14 table values
    )
    return per_rate.groupBy("doc_id").agg(
        F.sum("_n").cast("long").alias("n_frames"),
        F.sum("_bytes").cast("long").alias("n_bytes"),
        F.sum(
            F.expr("_samples * CAST(1000000 AS BIGINT) div sample_rate")
        ).cast("long").alias("duration_us"),
        (
            F.sum("_kbps_sum").cast("double") / F.sum("_n")
        ).alias("mean_bitrate_kbps"),
        (
            F.size(F.array_distinct(F.flatten(F.collect_list("_rates")))) > 1
        ).cast("int").alias("is_vbr"),
    )


def write_tar_shards_stream(
    df: DataFrame,
    out_dir: str,
    checkpoint: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    payload: str = "payload",
    ext: str = "bin",
    member_col: str | None = None,
    compress: bool = False,
):
    """STREAMING twin of :func:`write_tar_shards`: a WebDataset EXPORT
    running continuously — each micro-batch packs its rows into
    ``<out_dir>/batch-<batchId>/shard-%05d.tar`` via the batch sink.

    Replay discipline (exactly-once at the file level): shard membership
    and bytes are a pure function of the batch's rows (id-hash sharding,
    sorted members, normalized headers), and the batch sink publishes
    through :func:`_atomic_publish`, so a replayed micro-batch (failure
    before the checkpoint advanced) rewrites the SAME batch-scoped paths
    with byte-identical content — readers never see duplicates or torn
    shards. Downstream consumers ingest with
    ``read_tar_shards(spark, f"{out_dir}/batch-*")`` or the streaming
    reader. Returns the started query handle."""

    def pack(batch_df, batch_id: int):
        import os as _os

        write_tar_shards(
            batch_df,
            _os.path.join(out_dir, f"batch-{int(batch_id):08d}"),
            n_shards=n_shards,
            id_col=id_col,
            payload=payload,
            ext=ext,
            member_col=member_col,
            compress=compress,
        ).collect()  # the manifest action performs the write

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(pack)
        .option("checkpointLocation", checkpoint)
        .start()
    )
