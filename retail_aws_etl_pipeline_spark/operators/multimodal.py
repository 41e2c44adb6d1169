"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video content is carried as a ``binary`` column plus a typed
metadata struct, processed row by row inside one Arrow-batched
``mapInPandas`` loop, :func:`map_rows`.

REAL pure-numpy codecs (no media libraries required): PNG (stdlib zlib
deflate/inflate + per-scanline unfiltering of all five filter types, 8-bit
RGB/RGBA) and a PCM16 WAV encoder; WAV headers are probed by a RIFF chunk
walk. Compressed formats (JPEG, WebP, AVIF, MP4, FLAC, MP3, Ogg) are probed
from their headers for dimensions and stream parameters, never decoded:
pixel or frame decode would need PIL / cv2, which the package does not
depend on.

At 100 TB: payloads dominate row size — the operators project only
(id, payload) so Parquet column pruning keeps metadata-only queries from
touching bytes; kernels stream per Arrow batch (one Python call per row,
never a driver collect), and `repartition(n)` on id spreads decode CPU,
the real bottleneck, evenly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video | text
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table for tests: payload = utf-8 text bytes."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("txt").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def map_rows(frame: DataFrame, cols: list[str], fn, schema) -> DataFrame:
    """``frame``'s ``cols`` through ``fn`` row by row, in one Arrow-batched
    ``mapInPandas`` pass: ``fn(*values)`` returns that row's output tuples
    in ``schema`` field order — none, one or many, so one-to-many maps
    fit. Kernels run executor-side; driver code never touches payload
    bytes."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Unlabelled columns: Spark assigns them to the schema by position.
            yield pd.DataFrame(
                [out for values in zip(*(pdf[c] for c in cols)) for out in fn(*values)]
            )

    return frame.select(*cols).mapInPandas(kernel, schema=schema)


def _probe(media: DataFrame, fn, schema: str) -> DataFrame:
    """(media_id, *fn(payload)) for every media row."""
    return map_rows(
        media,
        ["media_id", "payload"],
        lambda mid, payload: [(int(mid), *fn(bytes(payload)))],
        schema,
    )


def _synth(ids: DataFrame, id_col: str, media_of) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows; ``media_of(id)`` gives (kind, payload, meta)."""
    return map_rows(ids, [id_col], lambda mid: [(int(mid), *media_of(int(mid)))], MEDIA_SCHEMA)


def byte_histogram(media: DataFrame) -> DataFrame:
    """(media_id, byte, n) histogram of payload bytes.

    The reference kernel proving the binary plumbing: numpy bincount per
    payload, exploded to one row per present byte value.
    """
    import numpy as np

    def counts(mid, payload):
        n = np.bincount(np.frombuffer(payload, dtype=np.uint8), minlength=256)
        present = np.nonzero(n)[0]
        return zip([mid] * len(present), present.tolist(), n[present].tolist())

    return map_rows(media, ["media_id", "payload"], counts, "media_id long, byte int, n long")


# ---------------------------------------------------------------------------
# Pure-numpy codecs: PNG and the PCM16 WAV encoder.
# ---------------------------------------------------------------------------


def _paeth_predictor(a, b, c):
    """PNG Paeth predictor (RFC 2083 §6.6), elementwise over int arrays."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(pixels) -> bytes:
    """H×W×C uint8 (C=3 RGB or C=4 RGBA) → PNG bytes, stdlib zlib only.

    Per-scanline filter = ``row % 5`` — deliberately cycles through all five
    PNG filter types (None/Sub/Up/Average/Paeth) so round-trip tests
    exercise every unfilter path in :func:`decode_png`, not just the
    trivial one.
    """
    import struct
    import zlib

    import numpy as np

    pixels = np.asarray(pixels, dtype=np.uint8)
    h, w, c = pixels.shape
    if c not in (3, 4):
        raise ValueError(f"encode_png wants H×W×3 or H×W×4, got {pixels.shape}")
    color_type = 2 if c == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)

    rows = pixels.reshape(h, w * c).astype(np.int64)
    zero = np.zeros(w * c, dtype=np.int64)
    out = bytearray()
    for y in range(h):
        raw = rows[y]
        prior = rows[y - 1] if y > 0 else zero
        left = np.concatenate([np.zeros(c, dtype=np.int64), raw[:-c]])
        up_left = np.concatenate([np.zeros(c, dtype=np.int64), prior[:-c]])
        ft = y % 5
        if ft == 0:
            filt = raw
        elif ft == 1:  # Sub
            filt = raw - left
        elif ft == 2:  # Up
            filt = raw - prior
        elif ft == 3:  # Average
            filt = raw - (left + prior) // 2
        else:  # Paeth
            filt = raw - _paeth_predictor(left, prior, up_left)
        out.append(ft)
        out.extend((filt % 256).astype(np.uint8).tobytes())

    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(buf: bytes):
    """PNG bytes → H×W×C uint8. A genuine decode on stdlib + numpy only:
    chunk walk (multi-IDAT concatenation), IHDR validation, zlib inflate,
    then per-scanline unfiltering of all five filter types — Sub via a
    per-channel cumulative sum, Up vectorized against the prior row,
    Average/Paeth via their sequential recurrences. Supports 8-bit
    truecolor (RGB) and truecolor+alpha (RGBA), non-interlaced."""
    import zlib

    import numpy as np

    if buf[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, idat, width, height, color_type = 8, [], None, None, None
    while pos + 8 <= len(buf):
        ln = int.from_bytes(buf[pos : pos + 4], "big")
        ctype = buf[pos + 4 : pos + 8]
        if pos + 12 + ln > len(buf):  # length field points past the buffer
            raise ValueError(
                f"truncated PNG chunk {ctype!r} at byte {pos}: "
                f"declared {ln} body bytes, {len(buf) - pos - 12} available"
            )
        body = buf[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            bit_depth, color_type, interlace = body[8], body[9], body[12]
            if bit_depth != 8 or color_type not in (2, 6):
                raise ValueError(
                    f"only 8-bit RGB/RGBA supported (depth={bit_depth}, color={color_type})"
                )
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + ln  # len + type + body + crc
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    c = 3 if color_type == 2 else 4
    stride = width * c
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length mismatch")

    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    at = 0
    for y in range(height):
        ft = raw[at]
        line = np.frombuffer(raw, np.uint8, stride, at + 1).astype(np.int64)
        at += 1 + stride
        if ft == 0:
            recon = line
        elif ft == 1:  # Sub: recon[x] = filt[x] + recon[x-c] → per-channel cumsum
            recon = line.reshape(width, c).cumsum(axis=0).reshape(-1) % 256
        elif ft == 2:  # Up
            recon = (line + prior) % 256
        elif ft == 3:  # Average (sequential in x, vector over channels)
            recon = np.zeros(stride, dtype=np.int64)
            for x in range(width):
                sl = slice(x * c, (x + 1) * c)
                left = recon[x * c - c : x * c] if x else np.zeros(c, dtype=np.int64)
                recon[sl] = (line[sl] + (left + prior[sl]) // 2) % 256
        elif ft == 4:  # Paeth
            recon = np.zeros(stride, dtype=np.int64)
            zc = np.zeros(c, dtype=np.int64)
            for x in range(width):
                sl = slice(x * c, (x + 1) * c)
                left = recon[x * c - c : x * c] if x else zc
                ul = prior[x * c - c : x * c] if x else zc
                recon[sl] = (line[sl] + _paeth_predictor(left, prior[sl], ul)) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        prior = recon
        out[y] = recon.astype(np.uint8)
    return out.reshape(height, width, c)


def encode_wav(samples, sample_rate: int = 16000, n_channels: int = 1) -> bytes:
    """int16 sample array → PCM16 little-endian RIFF/WAVE bytes."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16,
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + fmt
        + struct.pack("<4sI", b"data", len(data))
    ) + data


# ---------------------------------------------------------------------------
# Deterministic synthesizers: payload bytes are an integer formula of the
# id, so a SQL oracle can verify decoded features without seeing bytes.
# ---------------------------------------------------------------------------

PNG_W, PNG_H = 8, 5  # H=5 → encoder's row%5 filter cycle hits all 5 filters


def _png_pixels_for(mid: int):
    """Logical pixel byte i = (mid*17 + i*5) % 256."""
    import numpy as np

    i = np.arange(PNG_H * PNG_W * 3, dtype=np.int64)
    return ((mid * 17 + i * 5) % 256).astype(np.uint8).reshape(PNG_H, PNG_W, 3)


def synth_png_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows with a real PNG payload of
    :func:`_png_pixels_for` (kind 'png', dims in meta)."""
    return _synth(
        ids,
        id_col,
        lambda mid: (
            "png", encode_png(_png_pixels_for(mid)), ("png", PNG_W, PNG_H, None, None)
        ),
    )


def decode_png_stats(media: DataFrame) -> DataFrame:
    """Decode PNG payloads (kind='png') → (media_id, width, height,
    n_units, byte_sum, c0_sum): a full inflate + unfilter of every
    payload, features over the logical pixel bytes."""
    import numpy as np

    def stats(payload: bytes):
        px = decode_png(payload)
        flat = px.reshape(-1).astype(np.int64)
        return (px.shape[1], px.shape[0], flat.size, int(flat.sum()), int(flat[0::3].sum()))

    return _probe(
        media.filter(F.col("kind") == "png"),
        stats,
        "media_id long, width int, height int, n_units int, byte_sum long, c0_sum long",
    )


# ---------------------------------------------------------------------------
# Lib-free image METADATA probe: (format, width, height) from header bytes
# alone — no inflate, no pixel decode. This is the first real-user
# multimodal ask (what's in this blob / how big) and it works on formats
# whose FULL decode needs external libs (JPEG, GIF): dimensions live in
# fixed header fields (PNG IHDR, GIF logical-screen descriptor) or in a
# bounded marker walk (JPEG SOF), so the kernel touches O(header) bytes of
# a payload that may be megabytes — at 100 TB, Parquet page skipping plus
# this probe make a corpus-wide dims scan IO-bound on headers, not content.
# ---------------------------------------------------------------------------

#: JPEG SOF markers carrying frame dimensions (C0-CF minus DHT/JPG/DAC).
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def probe_image_dims(buf: bytes) -> tuple[str, int | None, int | None]:
    """(format, width, height) from header bytes only; full decode never
    runs. Unknown magic → ("unknown", None, None); a recognized format
    with a truncated/missing dims field raises ValueError."""
    if buf[:8] == PNG_SIG:
        # Recognized format: truncation must raise, never misreport as
        # "unknown" (mirrors the GIF/JPEG branches).
        if len(buf) < 24 or buf[12:16] != b"IHDR":
            raise ValueError("truncated PNG: no IHDR dims at offset 12")
        return (
            "png",
            int.from_bytes(buf[16:20], "big"),
            int.from_bytes(buf[20:24], "big"),
        )
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        if len(buf) < 10:
            raise ValueError("truncated GIF: no logical screen descriptor")
        return (
            "gif",
            int.from_bytes(buf[6:8], "little"),
            int.from_bytes(buf[8:10], "little"),
        )
    if buf[:2] == b"\xff\xd8":  # JPEG SOI: walk marker segments to a SOF
        pos = 2
        while pos + 4 <= len(buf):
            if buf[pos] != 0xFF:
                raise ValueError(f"bad JPEG marker alignment at byte {pos}")
            marker = buf[pos + 1]
            if marker in _JPEG_SOF_MARKERS:
                if pos + 9 > len(buf):
                    raise ValueError("truncated JPEG SOF segment")
                return (
                    "jpeg",
                    int.from_bytes(buf[pos + 7 : pos + 9], "big"),
                    int.from_bytes(buf[pos + 5 : pos + 7], "big"),
                )
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone
                pos += 2
                continue
            pos += 2 + int.from_bytes(buf[pos + 2 : pos + 4], "big")
        raise ValueError("JPEG with no SOF marker before EOF")
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        # WebP RIFF container: dims live in the FIRST chunk, whose layout
        # depends on the bitstream flavor — lossy VP8 (14-bit dims after
        # the 9D 01 2A start code), lossless VP8L (14-bit-packed fields
        # after the 2F signature), extended VP8X (24-bit minus-one canvas
        # dims). All three are header-only reads, O(30) bytes.
        if len(buf) < 20:
            raise ValueError("truncated WebP: no first chunk header")
        cc = buf[12:16]
        p = 20  # first chunk payload (12 fourcc + 4 chunk id + 4 size)
        if cc == b"VP8 ":
            if len(buf) < p + 10:
                raise ValueError("truncated WebP: VP8 frame header cut off")
            if buf[p + 3 : p + 6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe start code")
            return (
                "webp",
                int.from_bytes(buf[p + 6 : p + 8], "little") & 0x3FFF,
                int.from_bytes(buf[p + 8 : p + 10], "little") & 0x3FFF,
            )
        if cc == b"VP8L":
            if len(buf) < p + 5:
                raise ValueError("truncated WebP: VP8L header cut off")
            if buf[p] != 0x2F:
                raise ValueError("bad VP8L signature byte")
            bits = int.from_bytes(buf[p + 1 : p + 5], "little")
            return ("webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
        if cc == b"VP8X":
            if len(buf) < p + 10:
                raise ValueError("truncated WebP: VP8X header cut off")
            return (
                "webp",
                int.from_bytes(buf[p + 4 : p + 7], "little") + 1,
                int.from_bytes(buf[p + 7 : p + 10], "little") + 1,
            )
        raise ValueError(f"unrecognized WebP first chunk {cc!r}")
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        brand = buf[8:12]
        fmt = {
            b"avif": "avif", b"avis": "avif",
            b"heic": "heic", b"heix": "heic", b"mif1": "heif",
        }.get(brand)
        if fmt is None:
            # Some other ISO-BMFF (an MP4 video, say) — not an image;
            # probe_video_meta owns that container.
            return ("unknown", None, None)
        # Still-image ISO-BMFF: dims live in the ispe item property —
        # meta (a FullBox: 4 version/flags bytes before children) →
        # iprp → ipco → first ispe (FullBox: version/flags, then
        # width/height as uint32be). Pure box walk, O(header).
        for typ, b0, b1 in _iter_boxes(buf, 0, len(buf)):
            if typ != b"meta":
                continue
            for t2, c0, c1 in _iter_boxes(buf, b0 + 4, b1):
                if t2 != b"iprp":
                    continue
                for t3, d0, d1 in _iter_boxes(buf, c0, c1):
                    if t3 != b"ipco":
                        continue
                    for t4, e0, e1 in _iter_boxes(buf, d0, d1):
                        if t4 == b"ispe":
                            if e1 - e0 < 12:
                                raise ValueError("truncated ispe property")
                            return (
                                fmt,
                                int.from_bytes(buf[e0 + 4 : e0 + 8], "big"),
                                int.from_bytes(buf[e0 + 8 : e0 + 12], "big"),
                            )
        raise ValueError(f"{fmt} with no ispe item property")
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: the ONE dual-endian header walk in the probe family. The
        # first two bytes pick the byte order for EVERYTHING after them
        # (magic 42, IFD offset, tag/type/count/value fields), and a
        # count-1 SHORT value is LEFT-JUSTIFIED in its 4-byte value slot
        # — i.e. occupies the first two bytes under either endianness,
        # the classic parser trap (a reader that always takes the low
        # half is correct on 'II' and silently wrong on 'MM').
        endian = "little" if buf[:2] == b"II" else "big"
        if len(buf) < 8:
            raise ValueError("truncated TIFF: no IFD offset")
        ifd = int.from_bytes(buf[4:8], endian)
        if ifd < 8:
            raise ValueError("TIFF IFD offset inside header")
        if ifd + 2 > len(buf):
            raise ValueError("truncated TIFF: IFD offset beyond EOF")
        n_entries = int.from_bytes(buf[ifd : ifd + 2], endian)
        if ifd + 2 + 12 * n_entries > len(buf):
            raise ValueError("truncated TIFF: IFD entries beyond EOF")
        width = height = None
        for i in range(n_entries):
            e = ifd + 2 + 12 * i
            tag = int.from_bytes(buf[e : e + 2], endian)
            typ = int.from_bytes(buf[e + 2 : e + 4], endian)
            cnt = int.from_bytes(buf[e + 4 : e + 8], endian)
            if tag not in (256, 257):
                continue
            if cnt != 1 or typ not in (3, 4):
                raise ValueError(f"unsupported TIFF dims entry: tag {tag} type {typ} count {cnt}")
            if typ == 3:  # SHORT, left-justified in the value slot
                val = int.from_bytes(buf[e + 8 : e + 10], endian)
            else:  # LONG fills the slot
                val = int.from_bytes(buf[e + 8 : e + 12], endian)
            if tag == 256:
                width = val
            else:
                height = val
        if width is None or height is None:
            raise ValueError("TIFF IFD0 missing ImageWidth/ImageLength")
        return ("tiff", width, height)
    return ("unknown", None, None)


def _jpeg_header_bytes(w: int, h: int) -> bytes:
    """Minimal structurally-valid JPEG prelude: SOI + APP0/JFIF + SOF0
    (8-bit, 3 components, the given dims) + EOI. Enough for any
    marker-walking dims probe; not a renderable image."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HH", 1, 1
    ) + b"\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 8 + 3 * 3, 8, h, w, 3)
        + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif_header_bytes(w: int, h: int) -> bytes:
    """GIF89a header + logical screen descriptor + trailer."""
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x70\x00\x00" + b"\x3b"


def _tiff_header_bytes(w: int, h: int, endian: str, wide_types: bool) -> bytes:
    """Minimal structurally-valid TIFF: byte-order marker, magic 42, IFD
    at offset 8 with four entries — a NewSubfileType distractor before
    the dims, ImageWidth (256) / ImageLength (257), a Compression
    distractor after — and a zero next-IFD pointer. ``wide_types``
    stores the dims as LONG (type 4); otherwise SHORT (type 3)
    left-justified in the 4-byte value slot per the spec, which under
    big-endian means the HIGH half of the slot — the trap the probe's
    dual-endian walk exists to parse."""

    def u(v: int, n: int) -> bytes:
        return v.to_bytes(n, endian)

    def entry(tag: int, typ: int, val: int) -> bytes:
        if typ == 3:  # SHORT: left-justified 2 bytes + 2 pad
            slot = u(val, 2) + b"\x00\x00"
        else:  # LONG fills the slot
            slot = u(val, 4)
        return u(tag, 2) + u(typ, 2) + u(1, 4) + slot

    order = b"II" if endian == "little" else b"MM"
    dims_type = 4 if wide_types else 3
    entries = (
        entry(254, 4, 0)  # NewSubfileType distractor
        + entry(256, dims_type, w)
        + entry(257, dims_type, h)
        + entry(259, 3, 1)  # Compression=none distractor
    )
    return order + u(42, 2) + u(8, 4) + u(4, 2) + entries + u(0, 4)


#: Dims formulas for the synthetic probe corpus (shared with the oracle —
#: the oracle recomputes these from the id, never seeing the payloads).
def _probe_dims_for(mid: int) -> tuple[int, int]:
    return 16 + mid % 100, 9 + (mid * 7) % 100


def _webp_header_bytes(w: int, h: int, variant: str) -> bytes:
    """Minimal header-valid WebP of the given bitstream flavor: RIFF +
    WEBP + one VP8 / VP8L / VP8X chunk carrying the dims. Enough for any
    header probe; not a renderable image. Dims must fit the flavor's
    field width (14 bits for VP8/VP8L, 24 for VP8X)."""
    import struct

    if variant == "vp8":
        body = (
            b"VP8 "
            + struct.pack("<I", 10)
            + b"\x00\x00\x00"  # frame tag (probe never reads it)
            + b"\x9d\x01\x2a"
            + struct.pack("<HH", w, h)
        )
    elif variant == "vp8l":
        bits = (w - 1) | ((h - 1) << 14)
        body = b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    elif variant == "vp8x":
        body = (
            b"VP8X"
            + struct.pack("<I", 10)
            + b"\x00\x00\x00\x00"  # flags + reserved
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )
    else:
        raise ValueError(f"unknown WebP variant {variant!r}")
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def _avif_header_bytes(w: int, h: int, brand: bytes) -> bytes:
    """Minimal structurally-valid still-image ISO-BMFF (AVIF/HEIC): ftyp +
    meta(FullBox) → iprp → ipco → ispe carrying the dims. Enough for any
    box-walking dims probe; not a decodable image."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + typ + body

    ispe = box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", w, h))
    meta = box(b"meta", b"\x00\x00\x00\x00" + box(b"iprp", box(b"ipco", ispe)))
    ftyp = box(b"ftyp", brand + b"\x00\x00\x00\x00" + brand)
    return ftyp + meta


def synth_avif_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows cycling the avif/heic brands by ``id % 2``
    with per-id dims (``_probe_dims_for`` — the shared formula); meta dims
    stay NULL, so the probe must read them from the payload."""
    return _synth(
        ids,
        id_col,
        lambda mid: (
            "image",
            _avif_header_bytes(*_probe_dims_for(mid), (b"avif", b"heic")[mid % 2]),
            (None, None, None, None, None),
        ),
    )


def synth_webp_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows cycling the three WebP bitstream flavors
    by ``id % 3`` (VP8 lossy / VP8L lossless / VP8X extended), each a
    real header-valid payload with per-id dims (``_probe_dims_for`` —
    the SAME formula as the jpeg/png/gif corpus, so one oracle covers
    both probes). meta dims stay NULL: the only place the dimensions
    exist is inside the payload bytes."""
    return _synth(
        ids,
        id_col,
        lambda mid: (
            "image",
            _webp_header_bytes(*_probe_dims_for(mid), ("vp8", "vp8l", "vp8x")[mid % 3]),
            ("webp", None, None, None, None),
        ),
    )


# --- audio metadata probe (WAV fmt chunk / FLAC STREAMINFO / MP3 frame) ---

#: MPEG1 sample-rate table (frame-header index 0-2; 3 is reserved).
MP3_SAMPLE_RATES = (44100, 48000, 32000)


def probe_audio_meta(buf: bytes) -> tuple[str, int | None, int | None]:
    """(format, sample_rate, n_channels) from header bytes only — the audio
    counterpart of :func:`probe_image_dims`. WAV via the RIFF fmt-chunk
    walk, FLAC via the mandatory first STREAMINFO block, MP3 via the first
    frame header (ID3v2 prefix skipped). No sample decode ever runs."""
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        pos = 12
        while pos + 8 <= len(buf):
            cid = buf[pos : pos + 4]
            ln = int.from_bytes(buf[pos + 4 : pos + 8], "little")
            if cid == b"fmt ":
                if pos + 16 > len(buf):
                    raise ValueError("truncated WAV fmt chunk")
                return (
                    "wav",
                    int.from_bytes(buf[pos + 12 : pos + 16], "little"),
                    int.from_bytes(buf[pos + 10 : pos + 12], "little"),
                )
            pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        raise ValueError("WAV with no fmt chunk")
    if buf[:4] == b"fLaC":
        # 4-byte block header, then STREAMINFO; bytes 18-20 hold
        # sample_rate(20 bits) + channels-1(3) + bps-1 high bit(1)
        if len(buf) < 21 or (buf[4] & 0x7F) != 0:
            raise ValueError("FLAC without leading STREAMINFO block")
        x = int.from_bytes(buf[18:21], "big")
        return ("flac", x >> 4, ((x >> 1) & 0x7) + 1)
    if buf[:4] == b"OggS":
        # OGG container: the first page's first packet identifies the
        # codec — OpusHead (channels at +9, input rate LE32 at +12) or
        # the \x01vorbis identification header (channels at +11, rate
        # LE32 at +12). O(page header) bytes, no audio decode.
        if len(buf) < 27:
            raise ValueError("truncated OGG: no page header")
        if buf[4] != 0:
            raise ValueError(f"unsupported OGG page version {buf[4]}")
        nseg = buf[26]
        p = 27 + nseg  # first packet start (past the segment table)
        if len(buf) < p:
            raise ValueError("truncated OGG: segment table cut off")
        if buf[p : p + 8] == b"OpusHead":
            if len(buf) < p + 16:
                raise ValueError("truncated OpusHead packet")
            return (
                "opus",
                int.from_bytes(buf[p + 12 : p + 16], "little"),
                buf[p + 9],
            )
        if buf[p : p + 7] == b"\x01vorbis":
            if len(buf) < p + 16:
                raise ValueError("truncated vorbis identification header")
            return (
                "vorbis",
                int.from_bytes(buf[p + 12 : p + 16], "little"),
                buf[p + 11],
            )
        raise ValueError("OGG with unrecognized first packet codec")
    pos = 0
    if buf[:3] == b"ID3":  # ID3v2 tag: 10-byte header + syncsafe size
        if len(buf) < 10:
            raise ValueError("truncated ID3v2 header")
        size = 0
        for b in buf[6:10]:
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    if pos + 4 <= len(buf) and buf[pos] == 0xFF and (buf[pos + 1] & 0xE0) == 0xE0:
        b1, b2, b3 = buf[pos + 1], buf[pos + 2], buf[pos + 3]
        if (b1 >> 3) & 0x3 != 3 or (b1 >> 1) & 0x3 != 1:
            raise ValueError("only MPEG1 Layer III frame headers supported")
        sr_idx = (b2 >> 2) & 0x3
        if sr_idx == 3:
            raise ValueError("reserved MP3 sample-rate index")
        mode = (b3 >> 6) & 0x3
        return ("mp3", MP3_SAMPLE_RATES[sr_idx], 1 if mode == 3 else 2)
    return ("unknown", None, None)


def _flac_header_bytes(sample_rate: int, n_channels: int) -> bytes:
    """fLaC signature + a valid last-block STREAMINFO (34 bytes) carrying
    the given stream parameters; not a playable stream."""
    import struct

    val = (sample_rate << 44) | ((n_channels - 1) << 41) | ((16 - 1) << 36)
    return (
        b"fLaC"
        + bytes([0x80, 0, 0, 34])  # last-block flag + type 0 + length
        + struct.pack(">HH", 4096, 4096)
        + b"\x00" * 6  # min/max framesize unknown
        + struct.pack(">Q", val)  # sr/channels/bps/total-samples
        + b"\x00" * 16  # md5 of unencoded audio (unset)
    )


def _mp3_header_bytes(sr_idx: int, n_channels: int, id3_prefix: bool) -> bytes:
    """One MPEG1 Layer III frame header (optionally behind a minimal ID3v2
    tag, to exercise the probe's tag skip); not a playable stream."""
    mode = 3 if n_channels == 1 else 0  # mono | stereo
    frame = bytes([0xFF, 0xFB, (9 << 4) | (sr_idx << 2), mode << 6])
    if not id3_prefix:
        return frame
    pad = 6
    return b"ID3\x03\x00\x00" + bytes([0, 0, 0, pad]) + b"\x00" * pad + frame


def _ogg_header_bytes(codec: str, sample_rate: int, n_channels: int) -> bytes:
    """One minimal beginning-of-stream OGG page whose single packet is an
    OpusHead or \\x01vorbis identification header carrying the stream
    parameters; CRC left zero (the probe never validates it); not a
    playable stream."""
    import struct

    if codec == "opus":
        packet = (
            b"OpusHead"
            + bytes([1, n_channels])  # version 1, channel count
            + struct.pack("<H", 312)  # pre-skip
            + struct.pack("<I", sample_rate)
            + struct.pack("<h", 0)  # output gain
            + b"\x00"  # channel mapping family 0
        )
    elif codec == "vorbis":
        packet = (
            b"\x01vorbis"
            + struct.pack("<I", 0)  # version
            + bytes([n_channels])
            + struct.pack("<I", sample_rate)
            + struct.pack("<iii", 0, 0, 0)  # bitrate max/nominal/min
            + b"\xb8"  # blocksizes
            + b"\x01"  # framing bit
        )
    else:
        raise ValueError(f"unknown OGG codec {codec!r}")
    page = (
        b"OggS"
        + bytes([0, 0x02])  # version 0, beginning-of-stream
        + b"\x00" * 8  # granule position
        + b"\x01\x00\x00\x00"  # serial
        + b"\x00" * 4  # page sequence
        + b"\x00" * 4  # crc (unchecked by the probe)
        + bytes([1, len(packet)])  # one segment
        + packet
    )
    return page


def synth_ogg_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows cycling opus/vorbis by ``id % 2`` with the
    SAME stream-parameter formulas as the wav/flac corpus (sample rate
    ``8000 + (id%100)*80``, channels ``1 + id%2``) living only in the
    payload bytes."""
    return _synth(
        ids,
        id_col,
        lambda mid: (
            "audio",
            _ogg_header_bytes(("opus", "vorbis")[mid % 2], 8000 + (mid % 100) * 80, 1 + mid % 2),
            (None, None, None, None, None),
        ),
    )


def synth_audio_meta_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows cycling wav/flac/mp3 by ``id % 3``; stream
    parameters are per-id formulas that live ONLY in the payload headers
    (meta stays NULL): channels
    ``1 + id%2``; sample rate ``8000 + (id%100)*80`` for wav/flac, the
    MPEG1 table entry ``(id//3)%3`` for mp3 (odd ``id//3`` rows carry an
    ID3v2 prefix so the tag-skip path is exercised)."""
    import numpy as np

    def media_of(mid: int):
        ch = 1 + mid % 2
        fmt = ("wav", "flac", "mp3")[mid % 3]
        if fmt == "wav":
            payload = encode_wav(np.zeros(4, dtype=np.int16), 8000 + (mid % 100) * 80, ch)
        elif fmt == "flac":
            payload = _flac_header_bytes(8000 + (mid % 100) * 80, ch)
        else:
            payload = _mp3_header_bytes((mid // 3) % 3, ch, (mid // 3) % 2 == 1)
        return ("audio", payload, (fmt, None, None, None, None))

    return _synth(ids, id_col, media_of)


def probe_audio(media: DataFrame) -> DataFrame:
    """(media_id, format, sample_rate, n_channels) via
    :func:`probe_audio_meta` over payload headers."""
    return _probe(
        media, probe_audio_meta, "media_id long, format string, sample_rate int, n_channels int"
    )


# --- video container probe (MP4/ISO-BMFF box walk, no codec) -------------


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for ISO-BMFF boxes in [start,end);
    handles 64-bit largesize (size==1) and to-end boxes (size==0), and
    raises on a size field pointing past the range (truncated container)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(buf[pos : pos + 4], "big")
        typ = buf[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError(f"truncated largesize box {typ!r} at {pos}")
            size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"box {typ!r} at {pos} declares {size} bytes, "
                f"{end - pos} available"
            )
        yield typ, pos + hdr, pos + size
        pos += size


def probe_video_meta(buf: bytes) -> tuple[str, int | None, int | None, int | None]:
    """(format, duration_ms, width, height) from MP4/ISO-BMFF structure
    alone: moov/mvhd gives timescale+duration, the first trak/tkhd gives
    track dimensions (16.16 fixed point) — a pure box walk, no codec, the
    video member of the probe family (images: :func:`probe_image_dims`,
    audio: :func:`probe_audio_meta`). Unknown magic → ("unknown", ...)."""
    if len(buf) < 12 or buf[4:8] != b"ftyp":
        return ("unknown", None, None, None)
    duration_ms = width = height = None
    for typ, b0, b1 in _iter_boxes(buf, 0, len(buf)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in _iter_boxes(buf, b0, b1):
            if t2 == b"mvhd":
                v = buf[c0]
                if v == 0:
                    ts = int.from_bytes(buf[c0 + 12 : c0 + 16], "big")
                    dur = int.from_bytes(buf[c0 + 16 : c0 + 20], "big")
                else:
                    ts = int.from_bytes(buf[c0 + 20 : c0 + 24], "big")
                    dur = int.from_bytes(buf[c0 + 24 : c0 + 32], "big")
                if ts == 0:
                    raise ValueError("mvhd timescale of 0")
                duration_ms = dur * 1000 // ts
            elif t2 == b"trak" and width is None:
                for t3, d0, _d1 in _iter_boxes(buf, c0, c1):
                    if t3 == b"tkhd":
                        at = d0 + (76 if buf[d0] == 0 else 88)
                        width = int.from_bytes(buf[at : at + 4], "big") >> 16
                        height = int.from_bytes(buf[at + 4 : at + 8], "big") >> 16
                        break
    if duration_ms is None:
        raise ValueError("MP4 with no moov/mvhd box")
    return ("mp4", duration_ms, width, height)


def _mp4_header_bytes(timescale: int, duration: int, w: int, h: int) -> bytes:
    """Minimal structurally-valid MP4: ftyp + moov(mvhd v0 + trak(tkhd v0))
    carrying the given stream parameters; not a playable file."""
    import struct

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + typ + body

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + b"\x00" * 8  # created / modified
        + struct.pack(">II", timescale, duration)
        + struct.pack(">IH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10,
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"  # version 0 + enabled flags
        + b"\x00" * 8  # created / modified
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + b"\x00" * 8  # layer, alternate, volume, reserved
        + b"\x00" * 36  # matrix
        + struct.pack(">II", w << 16, h << 16),
    )
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + box(b"moov", mvhd + box(b"trak", tkhd))


def synth_video_meta_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows, one minimal MP4 per id; stream parameters
    are per-id formulas living only in the payload (meta stays NULL):
    timescale 600 (classic QuickTime), duration units
    ``600 + (id*7) % 36000``, dims ``320 + id%1280`` × ``180 + id%720``."""
    return _synth(
        ids,
        id_col,
        lambda mid: (
            "video",
            _mp4_header_bytes(600, 600 + (mid * 7) % 36000, 320 + mid % 1280, 180 + mid % 720),
            ("mp4", None, None, None, None),
        ),
    )


def probe_video(media: DataFrame) -> DataFrame:
    """(media_id, format, duration_ms, width, height) via
    :func:`probe_video_meta` over payload box structure."""
    return _probe(
        media,
        probe_video_meta,
        "media_id long, format string, duration_ms long, width int, height int",
    )


def probe_dims(media: DataFrame) -> DataFrame:
    """(media_id, format, width, height) via :func:`probe_image_dims` over
    payload headers — an Arrow-batched kernel that reads O(64) bytes per
    row no matter the payload size."""
    return _probe(media, probe_image_dims, "media_id long, format string, width int, height int")


# --- EXIF orientation probe (JPEG APP1 → TIFF IFD0 walk, both endians) ---

#: TIFF/EXIF IFD0 tags the probe extracts.
EXIF_TAG_WIDTH = 0x0100
EXIF_TAG_LENGTH = 0x0101
EXIF_TAG_ORIENTATION = 0x0112


def synth_exif_media(ids: DataFrame, id_col: str) -> DataFrame:
    """(id) → MEDIA_SCHEMA rows of minimal JPEGs whose ONLY metadata lives
    in a real APP1/Exif TIFF block: the byte order alternates II/MM by id
    parity (the endianness branch no other probe family exercises),
    orientation is 1 + id % 8, and ImageWidth/ImageLength carry the same
    per-id dims formula as the header probes. meta stays NULL so a probe
    over this frame provably parses the TIFF structure."""
    import struct

    def _payload(mid: int) -> bytes:
        w, h = _probe_dims_for(mid)
        orient = 1 + mid % 8
        little = mid % 2 == 0
        e = "<" if little else ">"
        tiff = (b"II" if little else b"MM") + struct.pack(e + "HI", 42, 8)
        # IFD0: 3 entries sorted by tag; SHORT values left-justified in the
        # 4-byte field per the TIFF spec, LONGs fill it.
        ifd = struct.pack(e + "H", 3)
        ifd += struct.pack(e + "HHI", EXIF_TAG_WIDTH, 4, 1) + struct.pack(e + "I", w)
        ifd += struct.pack(e + "HHI", EXIF_TAG_LENGTH, 4, 1) + struct.pack(e + "I", h)
        ifd += (
            struct.pack(e + "HHI", EXIF_TAG_ORIENTATION, 3, 1)
            + struct.pack(e + "H", orient)
            + b"\x00\x00"
        )
        ifd += struct.pack(e + "I", 0)  # no next IFD
        exif = b"Exif\x00\x00" + tiff + ifd
        return b"\xff\xd8" + b"\xff\xe1" + struct.pack(">H", len(exif) + 2) + exif + b"\xff\xd9"

    return _synth(
        ids, id_col, lambda mid: ("image", _payload(mid), ("jpeg", None, None, None, None))
    )


def probe_exif(buf: bytes) -> tuple[str | None, int | None, int | None, int | None]:
    """(byte_order, orientation, width, height) from a JPEG's APP1/Exif
    TIFF block — marker walk to APP1, then an IFD0 entry scan honoring the
    declared endianness (II or MM). Returns (None, None, None, None) for
    non-JPEG input or a JPEG without an Exif APP1; raises ValueError for a
    declared-but-truncated APP1/TIFF structure (family contract: truncation
    is an error, absence is a miss). The walk handles 0xFF fill/padding
    bytes and length-less standalone markers (TEM 0x01, RST0-7) that
    real-world encoders may emit before SOS. O(header) bytes touched."""
    import struct

    if len(buf) < 4 or buf[0:2] != b"\xff\xd8":
        return (None, None, None, None)
    at = 2
    while at + 2 <= len(buf):
        if buf[at] != 0xFF:
            return (None, None, None, None)
        # 0xFF may repeat as fill/padding before the marker id (ITU T.81
        # §B.1.1.2 allows any number of fill bytes) — skip to the last one.
        while at + 1 < len(buf) and buf[at + 1] == 0xFF:
            at += 1
        if at + 2 > len(buf):
            return (None, None, None, None)
        marker = buf[at + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS: no APP1 ahead
            return (None, None, None, None)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn:
            at += 2  # standalone markers carry NO length field
            continue
        if at + 4 > len(buf):
            raise ValueError("truncated JPEG segment")
        seg_len = int.from_bytes(buf[at + 2 : at + 4], "big")
        if seg_len < 2 or at + 2 + seg_len > len(buf):
            raise ValueError("truncated JPEG segment")
        if marker == 0xE1 and buf[at + 4 : at + 10] == b"Exif\x00\x00":
            tiff = buf[at + 10 : at + 2 + seg_len]
            if len(tiff) < 8:
                raise ValueError("truncated Exif TIFF header")
            if tiff[0:2] == b"II":
                e, order = "<", "II"
            elif tiff[0:2] == b"MM":
                e, order = ">", "MM"
            else:
                raise ValueError("bad TIFF byte order")
            magic, ifd_off = struct.unpack_from(e + "HI", tiff, 2)
            if magic != 42:
                raise ValueError("bad TIFF magic")
            if ifd_off + 2 > len(tiff):
                raise ValueError("truncated IFD0")
            (n_entries,) = struct.unpack_from(e + "H", tiff, ifd_off)
            if ifd_off + 2 + n_entries * 12 > len(tiff):
                raise ValueError("truncated IFD0 entries")
            orient = width = height = None
            for i in range(n_entries):
                base = ifd_off + 2 + i * 12
                tag, typ, _cnt = struct.unpack_from(e + "HHI", tiff, base)
                if typ == 3:  # SHORT, left-justified in the value field
                    (val,) = struct.unpack_from(e + "H", tiff, base + 8)
                elif typ == 4:  # LONG
                    (val,) = struct.unpack_from(e + "I", tiff, base + 8)
                else:
                    continue
                if tag == EXIF_TAG_ORIENTATION:
                    orient = val
                elif tag == EXIF_TAG_WIDTH:
                    width = val
                elif tag == EXIF_TAG_LENGTH:
                    height = val
            return (order, orient, width, height)
        at += 2 + seg_len
    return (None, None, None, None)


def probe_exif_meta(media: DataFrame) -> DataFrame:
    """(media_id, byte_order, orientation, width, height) via
    :func:`probe_exif` — Arrow-batched, O(header) bytes per row."""
    return _probe(
        media,
        probe_exif,
        "media_id long, byte_order string, orientation int, width int, height int",
    )
