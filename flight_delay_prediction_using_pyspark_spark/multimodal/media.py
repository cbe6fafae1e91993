"""Multimodal column operators: binary payloads + typed metadata,
decoded via Arrow-batched Pandas UDFs.

Data model: a media column is
  payload: binary               -- the opaque encoded bytes
  media_meta: struct<media_type string, width int, height int,
                     n_bytes long>    -- typed, prunable metadata
                                         (MEDIA_META_TYPE)

The Spark-side plumbing is real and tested: explicit output schemas,
`mapInPandas` with Arrow batches, per-batch (not per-row) numpy work,
and partition counts preserved. Four codecs are real, pure-Python and
dependency-free — P6 PPM, uncompressed 24-bit BMP, 8-bit RGB PNG and
palette GIF89a — and all decoding goes through ONE media_type →
decoder table (`DECODERS`) behind `decode_with_codec()`. JPEG, audio
and video raise NotImplementedError ("no codec available"): this
container ships no image/audio libraries, and that function is the
integration point. The codec-free paths (`decode_features` without
`use_codec`, `frame_sample`, `decode_resize_stats`) do honest
byte-level computation on the payload, so every pipeline stage downstream of
decode is exercised with real data.

Scale notes: mapInPandas streams Arrow record batches — payloads
never materialize as Python lists; memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`. The metadata struct
lives in a separate column so Parquet readers can prune the (huge)
payload column for metadata-only queries.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of decode_features — declared, not inferred.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("byte_entropy", T.DoubleType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)

#: Type of the `media_meta` struct every media builder emits.
MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Derive a deterministic media column from a text corpus: the
    UTF-8 bytes as payload plus a typed metadata struct. (In a real
    pipeline the payload arrives from object storage; this gives the
    same column shapes from driver testdata.)

    `carry_cols` are dimension columns (e.g. `source`) projected
    through unchanged so downstream extractors can echo them per row
    — at scale this DELETES the join that would otherwise reattach
    them: joining features back to a doc-id projection of the fact
    table is a full-fact-table shuffle (or, force-broadcast, an
    executor OOM) purely to recover columns the scan already had."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            (F.length(F.col(text_col)) % 640).cast("int").alias("width"),
            (F.length(F.col(text_col)) % 480).cast("int").alias("height"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("media_meta"),
        *[F.col(c) for c in carry_cols],
    )


def _make_ppm_decoder():
    """Factory so the decoder's __qualname__ contains ``<locals>``:
    cloudpickle then serializes it BY VALUE into UDF closures instead
    of by (module, name) reference — executor Python workers never
    need this package importable (the self-contained-closure rule the
    driver-sim from a foreign cwd enforces)."""

    def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
        """A REAL, spec-correct binary-PPM (P6) decoder in pure
        Python — the dependency-free executable codec (netpbm format,
        public spec: https://netpbm.sourceforge.net/doc/ppm.html).
        Parses the magic, whitespace-separated width/height/maxval
        header tokens with `#`-comment skipping, the single
        whitespace byte terminating the header, and the raw RGB
        raster. Returns (width, height, maxval, raster_bytes) and
        raises ValueError on malformed input (wrong magic, short
        raster, maxval out of range) — decode errors must surface,
        not zero-fill."""
        if payload[:2] != b"P6":
            raise ValueError(f"not a P6 PPM (magic {payload[:2]!r})")
        pos, tokens = 2, []
        n = len(payload)
        while len(tokens) < 3:
            while pos < n and payload[pos : pos + 1].isspace():
                pos += 1
            if pos < n and payload[pos : pos + 1] == b"#":
                while pos < n and payload[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < n and not payload[pos : pos + 1].isspace():
                pos += 1
            if pos == start:
                raise ValueError("truncated PPM header")
            tokens.append(payload[start:pos])
        pos += 1  # exactly ONE whitespace byte after maxval, per spec
        w, h, maxval = (int(t) for t in tokens)
        if w <= 0 or h <= 0:
            raise ValueError(f"bad PPM dimensions {w}x{h}")
        if not (0 < maxval < 65536):
            raise ValueError(f"maxval {maxval} out of range")
        depth = 3 * (2 if maxval > 255 else 1)
        need = w * h * depth
        raster = payload[pos : pos + need]
        if len(raster) < need:
            raise ValueError(f"short raster: {len(raster)} < {need}")
        return w, h, maxval, raster

    return decode_ppm


decode_ppm = _make_ppm_decoder()


def _make_bmp_codec():
    """Factory (by-value cloudpickle, like _make_ppm_decoder) for the
    second real codec: uncompressed 24-bit Windows BMP — a genuinely
    different container than PPM (little-endian binary headers,
    BOTTOM-UP row order, BGR channel order, 4-byte row padding), so
    the dispatch matrix is exercised by two formats with different
    parsing disciplines, not two text-header cousins."""
    import struct

    def encode_bmp(width: int, height: int, rgb_topdown: bytes) -> bytes:
        """Spec-correct BITMAPFILEHEADER + BITMAPINFOHEADER + raster:
        rows stored bottom-up, channels BGR, each row zero-padded to a
        4-byte boundary (the format every image library writes)."""
        if len(rgb_topdown) != 3 * width * height:
            raise ValueError("raster length != 3*w*h")
        stride = (3 * width + 3) & ~3
        pad = b"\x00" * (stride - 3 * width)
        rows = []
        for r in range(height - 1, -1, -1):  # bottom-up
            row = rgb_topdown[r * 3 * width : (r + 1) * 3 * width]
            bgr = bytearray()
            for c in range(width):
                px = row[3 * c : 3 * c + 3]
                bgr += px[::-1]  # RGB → BGR
            rows.append(bytes(bgr) + pad)
        raster = b"".join(rows)
        off = 14 + 40
        header = struct.pack("<2sIHHI", b"BM", off + len(raster), 0, 0, off)
        info = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster),
            2835, 2835, 0, 0,
        )
        return header + info + raster

    def decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
        """Inverse: validates magic/offset/depth/compression, strips
        padding, flips bottom-up back to top-down, swaps BGR back to
        RGB. Returns (width, height, 255, rgb_topdown) — the same
        shape as decode_ppm so downstream feature code is
        codec-agnostic. Raises ValueError on malformed input."""
        if payload[:2] != b"BM":
            raise ValueError(f"not a BMP (magic {payload[:2]!r})")
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
        planes, depth = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
        if hdr_size < 40 or planes != 1:
            raise ValueError("unsupported BMP header")
        if depth != 24 or compression != 0:
            raise ValueError(
                f"unsupported BMP variant (depth={depth}, "
                f"compression={compression}); only uncompressed 24-bit"
            )
        flip = height > 0  # positive height = bottom-up storage
        height = abs(height)
        # width is a SIGNED int32 in the spec but a negative or zero
        # dimension is always malformed — without this check a
        # negative width makes stride/need nonsensical and can return
        # an empty raster instead of raising (round-10 ADVICE: decode
        # errors must surface, never zero-fill)
        if width <= 0 or height == 0:
            raise ValueError(f"bad BMP dimensions {width}x{height}")
        stride = (3 * width + 3) & ~3
        need = off + stride * height
        if len(payload) < need:
            raise ValueError(f"short raster: {len(payload)} < {need}")
        out = bytearray()
        row_order = range(height - 1, -1, -1) if flip else range(height)
        for r in row_order:
            row = payload[off + r * stride : off + r * stride + 3 * width]
            for c in range(width):
                out += row[3 * c : 3 * c + 3][::-1]  # BGR → RGB
        return width, height, 255, bytes(out)

    return encode_bmp, decode_bmp


encode_bmp, decode_bmp = _make_bmp_codec()


def _make_png_codec():
    """Factory (by-value cloudpickle, like the PPM/BMP factories) for
    the third real codec — and the first COMPRESSED one: 8-bit RGB
    PNG, pure stdlib (zlib inflate + the five scanline filters
    including Paeth). A genuinely different parsing discipline from
    PPM (text header) and BMP (flat binary): chunked container with
    per-chunk CRC32 integrity, DEFLATE-compressed scanlines, and a
    per-row predictive filter the decoder must invert byte-serially
    (PNG spec, W3C: https://www.w3.org/TR/png-3/)."""
    import struct
    import zlib

    SIG = b"\x89PNG\r\n\x1a\n"

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    def _paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def encode_png(width: int, height: int, rgb_topdown: bytes) -> bytes:
        """Spec-correct 8-bit RGB (color type 2) PNG. The row filter
        CYCLES through all five types (r mod 5: None, Sub, Up,
        Average, Paeth), so any payload taller than 4 rows forces the
        decoder through every unfilter branch — the encoder is also
        the fixture generator for the decode contract."""
        if len(rgb_topdown) != 3 * width * height:
            raise ValueError("raster length != 3*w*h")
        stride = 3 * width
        raw = bytearray()
        zero = bytes(stride)
        for r in range(height):
            row = rgb_topdown[r * stride : (r + 1) * stride]
            prior = rgb_topdown[(r - 1) * stride : r * stride] if r else zero
            f = r % 5
            raw.append(f)
            for i in range(stride):
                x = row[i]
                a = row[i - 3] if i >= 3 else 0
                b = prior[i]
                c = prior[i - 3] if i >= 3 else 0
                if f == 0:
                    raw.append(x)
                elif f == 1:
                    raw.append((x - a) & 0xFF)
                elif f == 2:
                    raw.append((x - b) & 0xFF)
                elif f == 3:
                    raw.append((x - (a + b) // 2) & 0xFF)
                else:
                    raw.append((x - _paeth(a, b, c)) & 0xFF)
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        return (
            SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )

    def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
        """Inverse: validates the signature, walks the chunk stream
        verifying each CRC32, parses IHDR (8-bit RGB, non-interlaced
        only — the subset the encoder writes), inflates the
        concatenated IDAT stream, and inverts the per-row filter.
        Returns (width, height, 255, rgb_topdown) — the same shape as
        decode_ppm/decode_bmp so downstream feature code stays
        codec-agnostic. Raises ValueError on ANY malformation (bad
        magic, CRC mismatch, truncated chunk, bad dims, unsupported
        variant, short/corrupt inflate) — decode errors must surface,
        never zero-fill."""
        if payload[:8] != SIG:
            raise ValueError(f"not a PNG (magic {payload[:8]!r})")
        pos, n = 8, len(payload)
        width = height = None
        idat = bytearray()
        seen_end = False
        while pos < n:
            if pos + 8 > n:
                raise ValueError("truncated chunk header")
            (length,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            data_end = pos + 8 + length
            if data_end + 4 > n:
                raise ValueError(f"truncated {ctype!r} chunk")
            data = payload[pos + 8 : data_end]
            (crc,) = struct.unpack_from(">I", payload, data_end)
            if crc != zlib.crc32(ctype + data):
                raise ValueError(f"CRC mismatch in {ctype!r} chunk")
            if ctype == b"IHDR":
                # A CRC-valid IHDR of the wrong LENGTH must still be a
                # ValueError, not a struct.error escaping the contract.
                if len(data) != 13:
                    raise ValueError(f"bad IHDR length {len(data)} != 13")
                width, height, depth, color, comp, filt, interlace = (
                    struct.unpack(">IIBBBBB", data)
                )
                if width <= 0 or height <= 0:
                    raise ValueError(f"bad PNG dimensions {width}x{height}")
                if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                    raise ValueError(
                        f"unsupported PNG variant (depth={depth}, "
                        f"color={color}, interlace={interlace}); only "
                        "8-bit non-interlaced RGB"
                    )
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                seen_end = True
                break
            pos = data_end + 4
        if width is None:
            raise ValueError("missing IHDR")
        if not seen_end:
            raise ValueError("missing IEND")
        if not idat:
            raise ValueError("missing IDAT")
        stride = 3 * width
        expected = height * (stride + 1)
        # Bounded inflate: a tiny crafted IDAT (deflate bomb) must not
        # allocate beyond the raster the validated IHDR promises, so
        # cap decompression at expected+1 and reject overflow instead
        # of zlib.decompress()-ing an unbounded stream.
        try:
            dec = zlib.decompressobj()
            raw = dec.decompress(bytes(idat), expected + 1)
        except zlib.error as e:
            raise ValueError(f"corrupt IDAT stream: {e}") from e
        if len(raw) > expected or dec.unconsumed_tail:
            raise ValueError(
                f"oversized raster: IDAT inflates past {expected} bytes"
            )
        if not dec.eof or len(raw) != expected:
            raise ValueError(
                f"short raster: {len(raw)} != {expected}"
            )
        out = bytearray()
        prior = bytes(stride)
        for r in range(height):
            f = raw[r * (stride + 1)]
            row = raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)]
            cur = bytearray(stride)
            for i in range(stride):
                x = row[i]
                a = cur[i - 3] if i >= 3 else 0
                b = prior[i]
                c = prior[i - 3] if i >= 3 else 0
                if f == 0:
                    cur[i] = x
                elif f == 1:
                    cur[i] = (x + a) & 0xFF
                elif f == 2:
                    cur[i] = (x + b) & 0xFF
                elif f == 3:
                    cur[i] = (x + (a + b) // 2) & 0xFF
                elif f == 4:
                    cur[i] = (x + _paeth(a, b, c)) & 0xFF
                else:
                    raise ValueError(f"bad filter type {f} on row {r}")
            out += cur
            prior = bytes(cur)
        return width, height, 255, bytes(out)

    return encode_png, decode_png


encode_png, decode_png = _make_png_codec()


def _make_gif_codec():
    """Factory (by-value cloudpickle, like the other codec factories)
    for the FOURTH real codec — and the second COMPRESSED discipline:
    GIF89a with variable-width LZW (GIF89a spec, CompuServe 1990;
    W3C note). Genuinely different from PNG's DEFLATE: palette-
    indexed pixels, 9→12-bit LZW codes packed LSB-first inside
    255-byte sub-blocks, CLEAR/EOI control codes, and a dictionary
    rebuild when the 4096-entry table fills.

    GIF is palette media (≤256 colors by construction), so the
    encoder writes GRAYSCALE pixels through a 256-entry identity
    palette (index i → (i,i,i)); the decoder maps indices through
    whatever palette the file carries. Size-growth discipline matches
    giflib exactly: the encoder grows the code width when its
    add-counter reaches 2^size AT EMIT time, the decoder grows when
    its READ-counter crosses 2^size — the two counters track each
    other one-for-one, which is the interop-critical invariant."""
    import struct

    MAGIC = (b"GIF89a", b"GIF87a")

    def _lzw_encode(indices: bytes, min_code: int = 8) -> bytes:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        size = min_code + 1
        next_code = eoi + 1
        table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
        out = bytearray()
        acc = nbits = 0

        def emit(code: int) -> None:
            nonlocal acc, nbits, size
            acc |= code << nbits
            nbits += size
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
            # giflib EGifCompressOutput: grow AFTER writing, off the
            # adds-counter — emission k+1 sees the width this set
            if next_code >= (1 << size) and size < 12:
                size += 1

        def reset() -> None:
            nonlocal table, next_code, size
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            size = min_code + 1

        emit(clear)
        w = indices[:1]
        for b in indices[1:]:
            wk = w + bytes([b])
            if wk in table:
                w = wk
                continue
            emit(table[w])
            if next_code >= 4095:
                emit(clear)
                reset()
            else:
                table[wk] = next_code
                next_code += 1
            w = bytes([b])
        emit(table[w])
        emit(eoi)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def encode_gif(width: int, height: int, gray_topdown: bytes) -> bytes:
        """Spec-correct GIF89a: logical screen descriptor, 256-entry
        grayscale global color table, one image descriptor (no local
        table, no interlace), LZW-compressed pixel indices in
        sub-blocks, trailer. Pixel index i renders as (i, i, i)."""
        if len(gray_topdown) != width * height:
            raise ValueError("raster length != w*h")
        if not gray_topdown:
            raise ValueError("empty raster")
        head = b"GIF89a" + struct.pack("<HH", width, height) + bytes(
            [0xF7, 0, 0]  # global table, 8-bit color resolution, 256 entries
        )
        palette = bytes(v for i in range(256) for v in (i, i, i))
        desc = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        data = _lzw_encode(gray_topdown)
        blocks = bytearray([8])  # LZW minimum code size
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)
        return head + palette + desc + bytes(blocks) + b"\x3b"

    def _lzw_decode(data: bytes, n_expected: int, min_code: int = 8) -> bytes:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        size = min_code + 1
        running = eoi + 1  # giflib DGifDecompressInput: counts READS
        strings: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
        out = bytearray()
        acc = nbits = pos = 0
        prev: bytes | None = None
        while True:
            while nbits < size:
                if pos >= len(data):
                    raise ValueError("LZW stream truncated before EOI")
                acc |= data[pos] << nbits
                nbits += 8
                pos += 1
            code = acc & ((1 << size) - 1)
            acc >>= size
            nbits -= size
            if running <= 4097:
                running += 1
                if running > (1 << size) and size < 12:
                    size += 1
            if code == eoi:
                break
            if code == clear:
                strings = [bytes([i]) for i in range(clear)] + [b"", b""]
                running = eoi + 1
                size = min_code + 1
                prev = None
                continue
            if code < len(strings):
                entry = strings[code]
            elif code == len(strings) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK self-reference case
            else:
                raise ValueError(f"corrupt LZW code {code}")
            out += entry
            if prev is not None and len(strings) < 4096:
                strings.append(prev + entry[:1])
            prev = entry
            if len(out) > n_expected:
                raise ValueError(
                    f"LZW inflates past the descriptor raster ({len(out)}"
                    f" > {n_expected})"
                )
        if len(out) != n_expected:
            raise ValueError(f"short raster: {len(out)} != {n_expected}")
        return bytes(out)

    def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
        """Inverse: validates the magic, logical screen descriptor,
        global color table, and image descriptor (the encoder's
        subset: origin placement, no local table, no interlace),
        walks extension blocks spec-correctly, LZW-decompresses the
        index stream with bounded output, and maps indices through
        the palette. Raises ValueError on ANY malformation — decode
        errors must surface, never zero-fill."""
        if payload[:6] not in MAGIC:
            raise ValueError(f"not a GIF (magic {payload[:6]!r})")
        if len(payload) < 13:
            raise ValueError("truncated logical screen descriptor")
        sw, sh = struct.unpack_from("<HH", payload, 6)
        packed, _bg, _aspect = payload[10], payload[11], payload[12]
        if not packed & 0x80:
            raise ValueError("missing global color table (unsupported)")
        gct_n = 2 << (packed & 0x07)
        pos = 13
        if pos + 3 * gct_n > len(payload):
            raise ValueError("truncated global color table")
        palette = payload[pos : pos + 3 * gct_n]
        pos += 3 * gct_n
        while True:
            if pos >= len(payload):
                raise ValueError("missing image descriptor")
            block = payload[pos]
            pos += 1
            if block == 0x3B:
                raise ValueError("trailer before image data")
            if block == 0x21:  # extension: label + sub-blocks
                pos += 1
                while True:
                    if pos >= len(payload):
                        raise ValueError("truncated extension block")
                    n = payload[pos]
                    pos += 1 + n
                    if n == 0:
                        break
                continue
            if block != 0x2C:
                raise ValueError(f"unknown block 0x{block:02x}")
            break
        if pos + 9 > len(payload):
            raise ValueError("truncated image descriptor")
        left, top, width, height = struct.unpack_from("<HHHH", payload, pos)
        idesc = payload[pos + 8]
        pos += 9
        if width <= 0 or height <= 0:
            raise ValueError(f"bad GIF dimensions {width}x{height}")
        if (left, top) != (0, 0) or (width, height) != (sw, sh):
            raise ValueError("sub-rectangle images unsupported")
        if idesc & 0x80:
            raise ValueError("local color table unsupported")
        if idesc & 0x40:
            raise ValueError("interlaced GIF unsupported")
        if pos >= len(payload):
            raise ValueError("missing LZW minimum code size")
        min_code = payload[pos]
        pos += 1
        if min_code != 8:
            raise ValueError(f"unsupported LZW minimum code size {min_code}")
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated image sub-blocks")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            if pos + n > len(payload):
                raise ValueError("truncated image sub-block")
            data += payload[pos : pos + n]
            pos += n
        if pos >= len(payload) or payload[pos] != 0x3B:
            raise ValueError("missing trailer")
        if pos + 1 != len(payload):
            raise ValueError("trailing bytes after trailer")
        indices = _lzw_decode(bytes(data), width * height)
        rgb = bytearray()
        for i in indices:
            if 3 * i + 3 > len(palette):
                raise ValueError(f"palette index {i} out of range")
            rgb += palette[3 * i : 3 * i + 3]
        return width, height, 255, bytes(rgb)

    return encode_gif, decode_gif


encode_gif, decode_gif = _make_gif_codec()


#: media_type of each real codec.
PPM_MEDIA_TYPE = "image/x-portable-pixmap"
BMP_MEDIA_TYPE = "image/bmp"
PNG_MEDIA_TYPE = "image/png"
GIF_MEDIA_TYPE = "image/gif"

#: The one media_type → decoder table. Every decoder returns
#: (width, height, maxval, rgb_topdown), so downstream code is
#: codec-agnostic.
DECODERS = {
    PPM_MEDIA_TYPE: decode_ppm,
    BMP_MEDIA_TYPE: decode_bmp,
    PNG_MEDIA_TYPE: decode_png,
    GIF_MEDIA_TYPE: decode_gif,
}

#: media_type → (encoder, raster bytes per pixel) for the Python encode
#: arm: RGB containers take 3·w·h raster bytes, GIF takes w·h palette
#: indices.
ENCODERS = {
    BMP_MEDIA_TYPE: (encode_bmp, 3),
    PNG_MEDIA_TYPE: (encode_png, 3),
    GIF_MEDIA_TYPE: (encode_gif, 1),
}


def _make_codec_dispatch(decoders: dict):
    """Factory (by-value cloudpickle, like the codec factories): the
    dispatch and its table ship inside every UDF closure that calls
    it, so executor workers never import this package."""

    def decode_with_codec(
        payload: bytes, media_type: str
    ) -> tuple[int, int, int, bytes]:
        """The codec dispatch point. PPM (P6), uncompressed 24-bit
        BMP, 8-bit RGB PNG (zlib/DEFLATE, all five scanline filters),
        and palette GIF89a (variable-width LZW) decode for real — pure
        Python, no binary deps, one container family per compression
        discipline (text header / flat binary / DEFLATE / LZW). Other
        media types (JPEG, audio, video) raise NotImplementedError:
        PIL/torchaudio/ffmpeg are not available in this environment;
        add `PIL.Image.open(io.BytesIO(payload))` (or the audio/video
        equivalent) to the table when the runtime ships codecs."""
        decode = decoders.get(media_type)
        if decode is None:
            raise NotImplementedError(
                f"no codec available for {media_type}; install PIL/ffmpeg "
                "and add it to DECODERS — downstream plumbing is "
                "codec-agnostic"
            )
        return decode(payload)

    return decode_with_codec


decode_with_codec = _make_codec_dispatch(DECODERS)


def attach_ppm_media(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Derive a REAL binary P6 PPM payload per document: a spec-
    correct netpbm header (magic, a `#` comment line — so every
    decode exercises the parser's comment handling — width/height,
    maxval 255) followed by an RGB raster of the document's bytes
    tiled to exactly 3·w·h. Dimensions are deterministic functions of
    the text length (w = 1 + n mod 13, h = 1 + n mod 11), so a SQL
    oracle can compute the decoded-pixel truth from the text alone.

    The encoder is PURE CATALYST — format_string/repeat/substring/
    encode, no Python — because ingest-side synthesis belongs on the
    JVM fast path; only the decode (a codec by nature) drops to
    Arrow-batched Python. ASCII corpus ⇒ character arithmetic ==
    byte arithmetic (asserted in tests)."""
    n = F.length(F.col(text_col))
    w = (n % 13 + 1).cast("int")
    h = (n % 11 + 1).cast("int")
    header = F.format_string("P6\n# spark-graft synthetic\n%d %d\n255\n", w, h)
    raster = F.expr(
        f"substring(repeat({text_col}, CAST(3 * ((length({text_col}) % 13) + 1)"
        f" * ((length({text_col}) % 11) + 1) / length({text_col}) AS INT) + 1),"
        f" 1, 3 * ((length({text_col}) % 13) + 1)"
        f" * ((length({text_col}) % 11) + 1))"
    )
    payload = F.encode(F.concat(header, raster), "UTF-8")
    return df.filter(n > 0).select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit(PPM_MEDIA_TYPE).alias("media_type"),
            w.alias("width"),
            h.alias("height"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("media_meta"),
        *[F.col(c) for c in carry_cols],
    )


def attach_encoded_media(
    df: DataFrame,
    media_type: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """The PYTHON encode arm of the synthetic media builders
    (mapInPandas + the `ENCODERS` codec for `media_type`: BMP, PNG or
    GIF), where attach_ppm_media is pure Catalyst: real pipelines mix
    JVM-synthesized and upstream-Python-produced payloads, and the
    mixed-codec queries union both arms through one decode dispatch.

    Same deterministic dimensions as the PPM arm (w = 1 + n mod 13,
    h = 1 + n mod 11), and the text bytes tile the container's raster:
    3·w·h RGB bytes for BMP and PNG, w·h palette indices for GIF
    (grayscale identity palette, so the decoded truth is each tiled
    byte TRIPLED). The decoded-pixel truth therefore stays SQL tile
    arithmetic, while the wire bytes are a genuine container the
    decoder must invert. Null and empty texts emit no row, like the
    PPM arm's `length > 0` filter."""
    carry = list(carry_cols)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_TYPE),
        ]
        + [df.schema[c] for c in carry]
    )
    out_cols = [f.name for f in schema.fields]
    enc, channels = ENCODERS[media_type]  # by-value (`<locals>` qualname)
    tcol, icol = text_col, id_col

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, *extra in zip(
                pdf[icol], pdf[tcol], *[pdf[c] for c in carry]
            ):
                if pd.isna(text) or not text:
                    continue
                tb = str(text).encode("utf-8")
                n = len(tb)
                w, h = n % 13 + 1, n % 11 + 1
                npx = channels * w * h
                payload = enc(w, h, (tb * (npx // n + 1))[:npx])
                meta = {
                    "media_type": media_type,
                    "width": w,
                    "height": h,
                    "n_bytes": len(payload),
                }
                rows.append((int(doc_id), payload, meta, *extra))
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(build, schema=schema)


def decode_features(
    df: DataFrame, use_codec: bool = False, carry_cols: Sequence[str] = ()
) -> DataFrame:
    """Per-media byte-level features via mapInPandas (Arrow batches).

    `use_codec=True` routes each payload through decode_with_codec by
    its media_meta.media_type and computes the features over the
    DECODED PIXEL BYTES: PPM, BMP, PNG and GIF decode for real; JPEG,
    audio and video raise NotImplementedError (the documented
    PIL/ffmpeg boundary). The default path computes the same
    statistics over the raw payload bytes — identical batch shape,
    schema, and partitioning either way.

    `carry_cols` (e.g. `("source",)`) are echoed per row from input
    batch to output batch, so grouping dimensions ride the extractor
    instead of a post-hoc join against the fact table — the join-free
    shape a 100 TB media pipeline needs (the alternative reattaches a
    doc-id projection of the whole fact table per query).

    The UDF closure is self-contained (captures only local values and
    the factory-made by-value dispatch, no module globals): executor
    Python workers must not need this package importable."""
    carry = list(carry_cols)
    schema = T.StructType(list(FEATURE_SCHEMA.fields) + [df.schema[c] for c in carry])
    out_cols = [f.name for f in schema.fields]
    if use_codec:
        df = df.withColumn("__media_type", F.col("media_meta.media_type"))
    decode = decode_with_codec  # `<locals>` qualname ⇒ cloudpickled by value

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # local import: runs on executors

        def feature_row(doc_id, buf: bytes, extra) -> tuple:
            arr = np.frombuffer(buf, dtype=np.uint8)
            n = int(arr.size)
            if n == 0:
                return (int(doc_id), 0, 0, 0.0, 0.0, *extra)
            counts = np.bincount(arr, minlength=256)
            probs = counts[counts > 0] / n
            entropy = float(-(probs * np.log2(probs)).sum())
            s = int(arr.sum(dtype=np.int64))
            return (int(doc_id), n, s, float(s) / n, entropy, *extra)

        for pdf in batches:
            types = pdf["__media_type"] if use_codec else [None] * len(pdf)
            rows = []
            for doc_id, payload, mt, *extra in zip(
                pdf["doc_id"], pdf["payload"], types, *[pdf[c] for c in carry]
            ):
                buf = bytes(payload)
                raster = decode(buf, mt)[3] if use_codec else buf
                rows.append(feature_row(doc_id, raster, extra))
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(extract, schema=schema)


RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_mean", T.DoubleType()),
    ]
)


def decode_resize_stats(df: DataFrame, target: int = 8) -> DataFrame:
    """Deterministic FAKE codec end-to-end: decode each payload as a
    row-major byte-tiled (height × width) grayscale image, nearest-
    neighbor resize to (target × target), and emit the sampled-pixel
    sum/mean — the full decode → transform → feature pipeline a real
    image stage runs, with the codec swapped for pure index
    arithmetic (pixel(r, c) = payload[(r·w + c) mod n]), so it runs
    on ANY payload — including `attach_media`'s image/fake bytes, for
    which decode_with_codec has no codec (PPM, BMP, PNG and GIF decode
    for real there; JPEG, audio and video raise). The math is
    engine-portable (oracle-verified in SQL via ord/substring).

    Arrow batches via mapInPandas; the per-row work is O(target²)
    regardless of payload size — a real resize's output-bound cost
    shape. The UDF closure is self-contained."""

    src = df.filter(F.octet_length("payload") > 0).select(
        "doc_id",
        "payload",
        F.greatest(F.col("media_meta.width"), F.lit(1)).alias("w"),
        F.greatest(F.col("media_meta.height"), F.lit(1)).alias("h"),
    )
    out_cols = [f.name for f in RESIZE_STATS_SCHEMA.fields]
    t = target

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, w, h in zip(
                pdf["doc_id"], pdf["payload"], pdf["w"], pdf["h"]
            ):
                raw = bytes(payload)
                n, w, h = len(raw), int(w), int(h)
                s = 0
                for r in range(t):
                    src_r = (r * h) // t
                    for c in range(t):
                        s += raw[(src_r * w + (c * w) // t) % n]
                rows.append((int(doc_id), s, round(s / (t * t), 6)))
            yield pd.DataFrame(rows, columns=out_cols)

    return src.mapInPandas(resize, schema=RESIZE_STATS_SCHEMA)


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video-style frame sampling: split each payload into n_frames
    even chunks ("frames"), emit per-frame size + md5. One input row →
    n output rows, the fan-out shape a real frame sampler has."""

    out_cols = [f.name for f in FRAME_SCHEMA.fields]

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                if not raw:
                    continue
                step = max(len(raw) // n_frames, 1)
                for i in range(min(n_frames, len(raw))):
                    chunk = raw[i * step : (i + 1) * step] if i < n_frames - 1 else raw[i * step :]
                    rows.append(
                        (int(doc_id), i, len(chunk), hashlib.md5(chunk).hexdigest())
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(sample, schema=FRAME_SCHEMA)


def resize_meta(df: DataFrame, target_width: int, target_height: int) -> DataFrame:
    """Resize as metadata transformation: rewrites width/height and
    scales n_bytes proportionally (the codec-free contract of a
    resize; the pixel work plugs into decode_with_codec)."""
    meta = F.col("media_meta")
    scale = (
        (F.lit(target_width) * F.lit(target_height)).cast("double")
        / F.greatest(meta.width.cast("double") * meta.height.cast("double"), F.lit(1.0))
    )
    return df.withColumn(
        "media_meta",
        F.struct(
            meta.media_type.alias("media_type"),
            F.lit(target_width).cast("int").alias("width"),
            F.lit(target_height).cast("int").alias("height"),
            F.ceil(meta.n_bytes * scale).cast("long").alias("n_bytes"),
        ),
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ci", T.IntegerType()),
        T.StructField("val", T.LongType()),
    ]
)


def _phash_map(src: DataFrame, sample, target: int, chunk_bits: int) -> DataFrame:
    """The above-mean chunk packer every phash builder shares. `src` is
    (doc_id, payload, *args); `sample(payload_bytes, *args)` returns
    the builder's own target×target pixel grid, row-major. Bit j is set
    iff pixel_j is above the mean — the INTEGER comparison
    n_bits·px > Σpx, so no float ties — and the bits pack into
    n_bits/chunk_bits (doc_id, ci, val) rows. `sample` must be a local
    closure so it ships by value with the UDF."""
    n_bits = target * target
    n_chunks = n_bits // chunk_bits

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, *args in zip(*(pdf[c] for c in pdf.columns)):
                px = sample(bytes(payload), *args)
                s = sum(px)
                for ci in range(n_chunks):
                    val = 0
                    for b in range(chunk_bits):
                        if n_bits * px[ci * chunk_bits + b] > s:
                            val |= 1 << b
                    rows.append((int(doc_id), ci, val))
            yield pd.DataFrame(rows, columns=["doc_id", "ci", "val"])

    return src.mapInPandas(hash_batches, schema=PHASH_SCHEMA)


def phash_chunks(df: DataFrame, target: int = 8, chunk_bits: int = 16) -> DataFrame:
    """Perceptual average-hash of each decoded media payload, emitted
    as pigeonhole chunks: decode via the fake codec's 8×8 pixel grid
    (same index arithmetic as decode_resize_stats), set bit j iff
    pixel_j is above the mean — computed as the INTEGER comparison
    64·px > Σpx, so no float ties — and pack bits into
    64/chunk_bits chunk values. Output one (doc_id, chunk_idx, value)
    row per chunk: the long shape joins directly for candidate
    generation and Hamming verification without ever materializing a
    64-bit integer (whose top bit would overflow signed longs)."""
    src = df.filter(F.octet_length("payload") > 0).select(
        "doc_id",
        "payload",
        F.greatest(F.col("media_meta.width"), F.lit(1)).alias("w"),
        F.greatest(F.col("media_meta.height"), F.lit(1)).alias("h"),
    )
    t = target

    def sample(raw: bytes, w, h) -> list[int]:
        n, w, h = len(raw), int(w), int(h)
        return [
            raw[(((r * h) // t) * w + (c * w) // t) % n]
            for r in range(t)
            for c in range(t)
        ]

    return _phash_map(src, sample, target, chunk_bits)


def phash_chunks_codec(df: DataFrame, target: int = 8, chunk_bits: int = 16) -> DataFrame:
    """phash_chunks over REAL decoded pixels: each payload routes
    through decode_with_codec by its media_meta.media_type, and the
    8×8 grid samples the R channel of the decoded RGB raster —
    pixel(r, c) = raster[3·(row·w + col)] with row = (r·h)//t,
    col = (c·w)//t over the DECODED dimensions. The hash therefore
    reflects the image each container actually renders (a GIF's
    tripled-gray raster is a different image from the RGB arms'
    byte-tiling even for identical text — honest perceptual
    semantics), and a corrupt container raises instead of hashing
    garbage. Same integer above-mean bits and pigeonhole chunk shape
    as phash_chunks."""
    src = df.filter(F.octet_length("payload") > 0).select(
        "doc_id", "payload", F.col("media_meta.media_type").alias("mt")
    )
    t = target
    decode = decode_with_codec  # `<locals>` qualname ⇒ cloudpickled by value

    def sample(raw: bytes, mt) -> list[int]:
        w, h, _mx, raster = decode(raw, mt)
        return [
            raster[3 * (((r * h) // t) * w + (c * w) // t)]
            for r in range(t)
            for c in range(t)
        ]

    return _phash_map(src, sample, target, chunk_bits)


def phash_near_dup(chunks: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual near-dup pairs from phash chunks: candidates via the
    pigeonhole equi-join (any pair within Hamming k agrees on ≥1 of
    k+1 chunks — recall 1.0 for k ≤ n_chunks−1), verified by exact
    Hamming distance computed INLINE on the candidate row as
    bit_count(xor(h_a, h_b)) over the reassembled 64-bit hashes.

    Round-14 rewrite (guide §2.3/§2.5): 16-bit chunk values collide en
    masse on near-uniform imagery — measured at sf0.1, the bucket
    equi-join emits 16.9M raw candidate pairs (hot bucket 3900 rows),
    and the previous shape shuffled ALL of them through a DISTINCT and
    two join-backs to re-fetch chunk values before the Hamming
    aggregate (14.4M distinct pairs in flight for a 130k-pair result).
    Carrying the full hash h = Σ val·2^(16·ci) — exact, vals are
    16-bit — through the bucket join lets the verify run in the join's
    output projection, so the ≤max_hamming filter kills the blowup in
    the SAME stage it is born and only surviving pairs reach the
    dedup DISTINCT. Same result set bit-for-bit: Hamming over the 4
    chunk xors equals bit_count(xor(h_a, h_b)), and the candidate set
    (pairs sharing ≥1 (ci, val)) is unchanged. 8.4 s → 2.5 s warm at
    sf0.1 on the clone corpus.

    The chunk frame goes through scratch_persist (its Python
    decode/hash lineage feeds both join sides; exchange reuse does not
    fire across the MapInPandas stages), so the cache is released when
    the next catalog query starts instead of leaking."""
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        scratch_persist,
    )

    ch = scratch_persist(chunks)
    per_doc = ch.groupBy("doc_id").agg(
        F.collect_list(F.struct("ci", "val")).alias("cvs"),
        F.sum(F.expr("shiftleft(val, 16 * ci)")).alias("h"),
    )
    keyed = per_doc.select(
        "doc_id", "h", F.explode("cvs").alias("cv")
    ).select(
        "doc_id",
        "h",
        F.col("cv.ci").alias("ci"),
        F.col("cv.val").alias("val"),
    )
    a = keyed.select(
        "ci", "val", F.col("doc_id").alias("id_a"), F.col("h").alias("ha")
    )
    b = keyed.select(
        "ci", "val", F.col("doc_id").alias("id_b"), F.col("h").alias("hb")
    )
    return (
        a.join(b, ["ci", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def attach_media_clones(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CROSS-CONTAINER CLONE corpus: each document defines ONE
    canonical grayscale image (w = 1 + n mod 13, h = 1 + n mod 11,
    gray[p] = text_byte[p mod n] — the same deterministic dimensions
    as the other synthetic builders), and that SAME image is encoded
    into all four containers — P6 PPM, 24-bit BMP, and RGB PNG carry
    it as tripled-gray RGB ((g, g, g) per pixel); GIF89a carries it
    as palette indices through the identity grayscale palette. One
    mapInPandas fan-out stage: each input row yields four rows with
    media_id = 4·doc_id + arm (0=PPM, 1=BMP, 2=PNG, 3=GIF), so the
    arm and the document both recover from the id by integer
    arithmetic.

    This is the fixture the container-invariant dedup contract needs
    (the round-12 mixed-codec builders deliberately encode DIFFERENT
    images per container — text bytes tile 3wh RGB bytes vs wh
    palette indices — so their cross-container hashes honestly
    differ): here 'same content, different container' is true by
    construction, and a decode-normalize pipeline must pair the
    clones at Hamming 0."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META_TYPE),
        ]
    )
    ppm_type = PPM_MEDIA_TYPE
    # arms 1-3 in media_id order; `<locals>` encoders ship by value
    arms = [
        (mt, *ENCODERS[mt]) for mt in (BMP_MEDIA_TYPE, PNG_MEDIA_TYPE, GIF_MEDIA_TYPE)
    ]
    tcol, icol = text_col, id_col

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[icol], pdf[tcol]):
                if pd.isna(text) or not text:
                    continue
                tb = str(text).encode("utf-8")
                n = len(tb)
                w, h = n % 13 + 1, n % 11 + 1
                gray = (tb * (w * h // n + 1))[: w * h]
                rasters = {1: gray, 3: bytes(v for g in gray for v in (g, g, g))}
                header = f"P6\n# spark-graft synthetic\n{w} {h}\n255\n"
                payloads = [(ppm_type, header.encode("ascii") + rasters[3])]
                payloads += [(mt, enc(w, h, rasters[ch])) for mt, enc, ch in arms]
                for arm, (mt, payload) in enumerate(payloads):
                    meta = {
                        "media_type": mt,
                        "width": w,
                        "height": h,
                        "n_bytes": len(payload),
                    }
                    rows.append((int(doc_id) * 4 + arm, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "media_meta"])

    return df.mapInPandas(build, schema=schema)


def phash_chunks_normalized(
    df: DataFrame, target: int = 8, chunk_bits: int = 16, id_col: str = "media_id"
) -> DataFrame:
    """phash_chunks_codec with the DECODE-NORMALIZE stage in front —
    the production semantics of 'same image, different container'
    (the gap the round-12 phash query's docstring conceded): every
    payload is genuinely decoded through its container's codec, the
    decoded raster is normalized to CANONICAL GRAYSCALE — integer
    luma (R + G + B) div 3 per pixel, exact for the gray-encoded
    corpus and a real luma approximation for arbitrary RGB — and the
    average-hash samples the canonical target×target grid over the
    normalized grayscale. Containers that render the same image
    therefore hash identically REGARDLESS of how they carried it
    (tripled-gray RGB vs palette indices), with no per-arm stride
    anywhere downstream. Corrupt containers raise, never hash
    garbage. Same integer above-mean bits and pigeonhole chunk shape
    as the other phash builders, keyed by `id_col`."""
    src = df.filter(F.octet_length("payload") > 0).select(
        F.col(id_col).alias("doc_id"),
        "payload",
        F.col("media_meta.media_type").alias("mt"),
    )
    t = target
    decode = decode_with_codec  # `<locals>` qualname ⇒ cloudpickled by value

    def sample(raw: bytes, mt) -> list[int]:
        w, h, _mx, raster = decode(raw, mt)
        gray = [
            (raster[3 * p] + raster[3 * p + 1] + raster[3 * p + 2]) // 3
            for p in range(w * h)
        ]
        return [
            gray[((r * h) // t) * w + (c * w) // t]
            for r in range(t)
            for c in range(t)
        ]

    return _phash_map(src, sample, target, chunk_bits)


def decode_features_arrow(df: DataFrame, carry_cols: Sequence[str] = ()) -> DataFrame:
    """`mapInArrow` sibling of decode_features: the same byte features
    computed straight on the Arrow RecordBatch — ZERO pandas
    conversion, zero per-row Python. The binary column is reduced
    with the offsets-buffer trick: the payload data buffer views as
    one uint8 numpy array, a single int64 cumulative sum turns the
    (offsets[i], offsets[i+1]) spans into per-row byte sums by
    subtraction — O(total bytes) vectorized work regardless of row
    count, correct for empty payloads and sliced (non-zero-offset)
    arrays. This is the path for feature extractors whose input is
    large binary media: pandas round-trips copy every payload twice;
    Arrow hands the kernel the raw buffers.

    Emits (doc_id, n_bytes, byte_sum) plus any `carry_cols` — the
    exact-integer subset of FEATURE_SCHEMA (the float features stay
    on the pandas path). Carried columns pass through as the original
    Arrow arrays — literally zero copies, the cheapest possible way
    to keep a grouping dimension attached (vs the join-back shape,
    which shuffles the fact table to recover it).
    Self-contained closure, local imports only."""
    carry = list(carry_cols)

    def extract(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(batch.schema.get_field_index("doc_id"))
            pay = batch.column(batch.schema.get_field_index("payload"))
            n = len(pay)
            if n == 0:
                continue
            if pay.null_count:
                # The offsets-buffer reduction below reads through the
                # validity bitmap: a NULL payload row has offs[i+1] ==
                # offs[i] and would silently come out as n_bytes=0
                # instead of null, diverging from the pandas decode
                # path. Fail loudly until a caller actually needs
                # null-media semantics (then: mask `lens`/`sums` from
                # the validity bitmap instead).
                raise ValueError(
                    f"decode_features_arrow: {pay.null_count} null payload "
                    "row(s) in batch; null media is not supported on the "
                    "Arrow fast path"
                )
            offs = np.frombuffer(pay.buffers()[1], dtype=np.int32)[
                pay.offset : pay.offset + n + 1
            ]
            data = np.frombuffer(pay.buffers()[2], dtype=np.uint8)
            csum = np.concatenate([[0], np.cumsum(data, dtype=np.int64)])
            sums = csum[offs[1:]] - csum[offs[:-1]]
            lens = (offs[1:] - offs[:-1]).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(lens, type=pa.int64()),
                    pa.array(sums, type=pa.int64()),
                    *[
                        batch.column(batch.schema.get_field_index(c))
                        for c in carry
                    ],
                ],
                names=["doc_id", "n_bytes", "byte_sum", *carry],
            )

    carry_ddl = "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in (df.schema[c] for c in carry)
    )
    return df.select("doc_id", "payload", *carry).mapInArrow(
        extract, "doc_id long, n_bytes long, byte_sum long" + carry_ddl
    )
