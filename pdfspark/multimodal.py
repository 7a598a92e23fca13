"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, decoded/feature-extracted in Arrow-batched
``mapInPandas`` stages.

METADATA is real for all three modalities — container/header walking
needs no codec: ``parse_image_header`` (PNG IHDR / JPEG SOF marker walk
/ BMP DIB header), ``parse_wav_header`` (RIFF/WAVE) and
``parse_mp4_header`` (ISO-BMFF). Only PIXEL/SAMPLE decode is honestly
gated: ``decode_image_pixels`` raises ``NotImplementedError`` behind an
import-try for Pillow (absent in this container). ``_decode_image_stub``
survives solely as the opaque-payload plumbing stand-in for the
batch-shape stages (frame sampling / byte features over arbitrary
binary), whose driver-pinned oracles depend on its arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from pdfspark.pipeline import map_rows

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def _decode_image_stub(payload: bytes) -> tuple:
    """Opaque-payload plumbing stand-in (NOT the image modality's
    metadata path — that is parse_image_header): deterministic
    pseudo-metadata from payload length, kept only because the
    driver-pinned plumbing oracles (multimodal_meta /
    multimodal_frame_sample) recompute exactly this arithmetic over
    arbitrary non-image binary."""
    n = len(payload)
    return (1 + n % 640, 1 + (n * 7) % 480, 1 + n % 16)


def decode_image_pixels(payload: bytes):
    """Real pixel decode — gated on Pillow, absent in this container."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "image codecs not available in this environment; "
            "metadata path uses _decode_image_stub"
        )
    raise NotImplementedError("wire PIL decode here when available")


def decode_image_meta(df: DataFrame) -> DataFrame:
    """(doc_id, payload:binary) → (doc_id, width, height, n_frames) via an
    Arrow-batched mapInPandas stage. One batch at a time bounds memory for
    giant payloads; binary never round-trips through Python rows."""

    def meta_row(doc_id, p):
        return [(doc_id, *_decode_image_stub(bytes(p) if p is not None
                                             else b""))]

    return map_rows(df.select("doc_id", "payload"), meta_row,
                    IMAGE_META_SCHEMA)


def sample_frames(df: DataFrame, every: int = 4) -> DataFrame:
    """Frame-sampling plumbing: explode each payload into every-Nth fake
    'frame' (deterministic byte slices). Shows the 1→N mapInPandas shape a
    video pipeline needs (output rows ≠ input rows)."""

    def frame_rows(doc_id, p):
        payload = bytes(p) if p is not None else b""
        n_frames = _decode_image_stub(payload)[2]
        rows = []
        for idx in range(0, n_frames, every):
            lo = (idx * 17) % max(len(payload), 1)
            rows.append((doc_id, idx, payload[lo : lo + 16]))
        return rows

    return map_rows(df.select("doc_id", "payload"), frame_rows, FRAME_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.LongType())),
    ]
)


def extract_byte_histogram(df: DataFrame, bins: int = 16) -> DataFrame:
    """Vectorized feature extraction over binary payloads: a ``bins``-bin
    byte histogram per document via numpy bincount — the codec-free
    stand-in with the exact shape (Arrow in, fixed-length feature vector
    out) a real image/audio embedder stage has."""
    import numpy as np

    width = 256 // bins

    def histogram_row(doc_id, p):
        buf = np.frombuffer(bytes(p) if p is not None else b"",
                            dtype=np.uint8)
        return [(doc_id, np.bincount(buf // width, minlength=bins)[:bins]
                 .astype("int64").tolist())]

    return map_rows(df.select("doc_id", "payload"), histogram_row,
                    FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_images(df: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Resize plumbing: (doc_id, payload) → (doc_id, out_w, out_h,
    resized:binary). The codec-free stand-in resamples the payload's
    byte stream to exactly out_w*out_h bytes by numpy stride indexing —
    deterministic, shape-exact, and vectorized, so the stage has the
    real resize contract (fixed output dims, binary out, Arrow batch
    in) while the interpolating decoder stays one function swap away
    (decode_image_pixels gates on Pillow)."""
    import numpy as np

    size = out_w * out_h

    def resized_row(doc_id, p):
        buf = np.frombuffer(bytes(p) if p is not None else b"",
                            dtype=np.uint8)
        if len(buf) == 0:
            return [(doc_id, out_w, out_h, bytes(size))]
        idx = (np.arange(size) * len(buf)) // size
        return [(doc_id, out_w, out_h, buf[idx].tobytes())]

    return map_rows(df.select("doc_id", "payload"), resized_row,
                    RESIZED_SCHEMA)


# ------------------------------------------------------------------- audio

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def synth_wav(doc_id: int) -> bytes:
    """Deterministic PCM WAV container for the audio-metadata harness:
    every field is a closed-form function of doc_id so a SQL oracle can
    recompute the expected metadata without touching bytes."""
    import struct

    channels = 1 + doc_id % 2
    sample_rate = (8000, 16000, 44100)[doc_id % 3]
    bits = 16
    n_samples = 100 + (doc_id * 37) % 400
    block = channels * bits // 8
    data = bytes((doc_id + i) % 251 for i in range(n_samples * block))
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block, block, bits,
    )
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav_header(payload: bytes):
    """REAL (not stubbed) RIFF/WAVE container walk — header parsing
    needs no codec. Returns (channels, sample_rate, bits, n_samples,
    duration_ms) or None for malformed/truncated/non-WAV input; chunk
    iteration is bounds-checked and capped so crafted sizes can never
    loop or over-read (the kernel's one-bad-document rule)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    pos, end = 12, min(len(payload), 12 + struct.unpack_from(
        "<I", payload, 4)[0])
    fmt = None
    data_len = None
    for _ in range(64):  # chunk-count bomb guard
        if pos + 8 > end:
            break
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8: pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data_len = min(size, max(0, len(payload) - pos - 8))
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_len is None:
        return None
    _, channels, sample_rate, _, block_align, bits = fmt
    if channels == 0 or sample_rate == 0 or block_align == 0:
        return None
    n_samples = data_len // block_align
    duration_ms = n_samples * 1000 // sample_rate
    return channels, sample_rate, bits, n_samples, duration_ms


def wav_meta_row(doc_id: int, meta) -> tuple:
    """One AUDIO_META_SCHEMA row from a parse_wav_header result — the
    SINGLE construction site shared by decode_audio_meta and the fused
    harness (queries._audio_meta_impl), so the 'bad-wav' code and the
    column set can never drift between the two paths."""
    if meta is None:
        return (doc_id, None, None, None, None, None, "bad-wav")
    return (doc_id, *meta, None)


def decode_audio_meta(df: DataFrame) -> DataFrame:
    """(doc_id, payload:binary) → typed audio metadata via one
    Arrow-batched mapInPandas stage; malformed payloads yield an error
    row, never an exception."""

    def meta_row(doc_id, p):
        # per-row guard: one bad document never kills the job
        try:
            meta = parse_wav_header(bytes(p) if p is not None else b"")
        except Exception:
            meta = None
        return [wav_meta_row(doc_id, meta)]

    return map_rows(df.select("doc_id", "payload"), meta_row,
                    AUDIO_META_SCHEMA)


# ------------------------------------------------------------------- video

VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("timescale", T.IntegerType()),
        T.StructField("duration_units", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def synth_mp4(doc_id: int) -> bytes:
    """Deterministic ISO-BMFF (MP4) container: ftyp + moov/mvhd with
    closed-form fields so a SQL oracle can recompute them from
    doc_id."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    timescale = (600, 1000, 90000)[doc_id % 3]
    duration = 1000 + (doc_id * 53) % 9000
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(b"mvhd", bytes(12)  # version/flags + creation/modification
               + struct.pack(">II", timescale, duration)
               + bytes(80))  # rate/volume/matrix/next_track padding
    moov = box(b"moov", mvhd)
    return ftyp + box(b"free", bytes(doc_id % 32)) + moov


def parse_mp4_header(payload: bytes):
    """REAL ISO-BMFF box walk (no codec): major brand from ftyp,
    movie timescale/duration from moov→mvhd (version 0 and 1 layouts).
    Returns (brand, timescale, duration_units, duration_ms) or None;
    box iteration is bounds-checked and count-capped so crafted sizes
    never loop or over-read."""
    import struct

    def walk(buf, start, end, depth=0):
        found = {}
        pos = start
        for _ in range(64):  # box-count bomb guard
            if pos + 8 > end:
                break
            size = struct.unpack_from(">I", buf, pos)[0]
            btype = buf[pos + 4:pos + 8]
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    break
                size = struct.unpack_from(">Q", buf, pos + 8)[0]
                body_off = pos + 16
            elif size == 0:  # box extends to end
                size = end - pos
                body_off = pos + 8
            else:
                body_off = pos + 8
            if size < 8 or pos + size > end:
                break
            found.setdefault(btype, (body_off, pos + size))
            pos += size
        return found

    top = walk(payload, 0, len(payload))
    if b"ftyp" not in top or b"moov" not in top:
        return None
    f0, f1 = top[b"ftyp"]
    if f1 - f0 < 4:
        return None
    brand = payload[f0:f0 + 4].decode("latin-1")
    m0, m1 = top[b"moov"]
    inner = walk(payload, m0, m1, 1)
    if b"mvhd" not in inner:
        return None
    import struct as _s

    h0, h1 = inner[b"mvhd"]
    if h1 - h0 < 4:
        return None
    version = payload[h0]
    # Bounds are checked against the mvhd box END (h1), not the total
    # payload: a crafted mvhd whose declared size is too short for its
    # version's field layout must be an error row, never a silent read
    # of the NEXT box's bytes (ADVICE r4 #1). v0 needs 20 bytes
    # (ver/flags + 2×u32 times + u32 timescale + u32 duration), v1
    # needs 32 (2×u64 times + u32 timescale + u64 duration).
    if version == 1:
        if h1 - h0 < 32:
            return None
        timescale = _s.unpack_from(">I", payload, h0 + 20)[0]
        duration = _s.unpack_from(">Q", payload, h0 + 24)[0]
    else:
        if h1 - h0 < 20:
            return None
        timescale, duration = _s.unpack_from(">II", payload, h0 + 12)
    if timescale == 0:
        return None
    return brand, timescale, duration, duration * 1000 // timescale


# ------------------------------------------------------------------- image

IMAGE_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type → sample channels (0 gray, 2 RGB, 3 palette, 4 gray+A,
# 6 RGBA); any other value is malformed
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _image_dims(doc_id: int):
    """The shared closed-form dimensions of every synth_* image — one
    site so the three generators and the SQL oracle can never drift."""
    return 1 + (doc_id * 3) % 2048, 1 + (doc_id * 7) % 1536


def synth_png(doc_id: int) -> bytes:
    """Deterministic PNG (signature + IHDR + tiny IDAT + IEND, real
    CRCs): dims from _image_dims, color type cycles gray/RGB/RGBA on
    doc_id//3 so channel derivation is exercised."""
    import struct
    import zlib

    w, h = _image_dims(doc_id)
    color = (0, 2, 6)[(doc_id // 3) % 3]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(bytes(8))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def synth_jpeg(doc_id: int) -> bytes:
    """Deterministic JPEG header stream (SOI + APP0/JFIF + DQT + SOF0 +
    EOI): the marker walk must skip the non-SOF segments to reach
    frame dims; component count alternates 1/3 on doc_id parity."""
    import struct

    w, h = _image_dims(doc_id)
    ncomp = 3 if doc_id % 2 else 1

    def seg(marker: int, data: bytes) -> bytes:
        return (b"\xff" + bytes([marker])
                + struct.pack(">H", 2 + len(data)) + data)

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, bytes([0]) + bytes(64))
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(ncomp))
    sof0 = seg(0xC0, bytes([8]) + struct.pack(">HH", h, w)
               + bytes([ncomp]) + comps)
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


def synth_bmp(doc_id: int) -> bytes:
    """Deterministic BMP (BITMAPFILEHEADER + 40-byte
    BITMAPINFOHEADER, no pixel data): bpp cycles 8/24/32 on
    doc_id//3."""
    import struct

    w, h = _image_dims(doc_id)
    bpp = (8, 24, 32)[(doc_id // 3) % 3]
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp,
                      0, 0, 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + dib


def synth_image(doc_id: int) -> bytes:
    """Format dispatcher for the image-metadata harness: doc_id%3
    cycles png/jpeg/bmp — matches the `fmt` column of the SQL
    oracle."""
    return (synth_png, synth_jpeg, synth_bmp)[doc_id % 3](doc_id)


def parse_image_header(payload: bytes):
    """REAL (not stubbed) image header parse — dims/depth/channels need
    no codec, exactly like the WAV/MP4 container walks. Sniffs PNG
    (signature + IHDR-first chunk), JPEG (SOI + bounded marker walk to
    SOF0/SOF1/SOF2), BMP (BITMAPCOREHEADER/BITMAPINFOHEADER+), GIF
    (87a/89a logical screen descriptor; palette-indexed ⇒ 1 channel at
    the index depth) and WebP (RIFF + VP8 lossy sync / VP8L lossless
    bit-pack / VP8X extended canvas, r7 — the generator stays
    PNG/JPEG/BMP so the driver-visible multimodal_image_meta output is
    unchanged; GIF/WebP are unit- and fuzz-pinned).
    Returns (fmt, width, height, bit_depth, channels) or None for
    malformed/truncated/unknown input; every read is bounds-checked and
    the JPEG walk is marker-count capped so crafted lengths can never
    loop or over-read (the kernel's one-bad-document rule).

    Reference parity: connorskees/pdf decodes JPEG via src/filter/dct.rs
    (zune-jpeg); dims-only is this repo's text-scope equivalent."""
    import struct

    n = len(payload)
    if payload[:8] == _PNG_SIG:
        if n < 26:
            return None
        clen, ctype = struct.unpack_from(">I4s", payload, 8)
        if ctype != b"IHDR" or clen < 13 or n < 16 + 13:
            return None
        w, h, depth, color = struct.unpack_from(">IIBB", payload, 16)
        ch = _PNG_CHANNELS.get(color)
        if ch is None or w == 0 or h == 0 \
                or w > 0x7FFFFFFF or h > 0x7FFFFFFF:
            return None
        return "png", w, h, depth, ch
    if payload[:2] == b"\xff\xd8":
        pos = 2
        for _ in range(256):  # marker-count bomb guard
            # fill bytes: any run of 0xFF collapses to one marker prefix
            while pos + 1 < n and payload[pos] == 0xFF \
                    and payload[pos + 1] == 0xFF:
                pos += 1
            if pos + 2 > n or payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            pos += 2
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                continue  # standalone markers carry no length
            if marker in (0xD9, 0xDA):
                return None  # EOI / scan data before any SOF: no dims
            if pos + 2 > n:
                return None
            seglen = struct.unpack_from(">H", payload, pos)[0]
            if seglen < 2 or pos + seglen > n:
                return None
            if marker in (0xC0, 0xC1, 0xC2):
                if seglen < 8:
                    return None
                precision = payload[pos + 2]
                h, w = struct.unpack_from(">HH", payload, pos + 3)
                ncomp = payload[pos + 7]
                if w == 0 or h == 0 or ncomp == 0:
                    return None
                return "jpeg", w, h, precision, ncomp
            pos += seglen
        return None
    if payload[:2] == b"BM":
        if n < 26:
            return None
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size >= 40:
            if n < 30:
                return None
            w, h = struct.unpack_from("<ii", payload, 18)
            bpp = struct.unpack_from("<H", payload, 28)[0]
        elif hdr_size == 12:  # BITMAPCOREHEADER: 16-bit dims
            w, h = struct.unpack_from("<HH", payload, 18)
            bpp = struct.unpack_from("<H", payload, 24)[0]
        else:
            return None
        h = abs(h)  # negative height = top-down row order
        if w <= 0 or h == 0:
            return None
        # legal BMP bit depths only — anything else is an error row,
        # never invented metadata (review r5 #4). ≤8bpp are paletted/
        # gray single-channel at the stated depth; 16bpp defaults to
        # RGB555 (5 bits/sample, 3 channels) absent BITFIELDS; 24/32
        # are 8-bit BGR(A).
        if bpp in (1, 2, 4, 8):
            depth, ch = bpp, 1
        elif bpp == 16:
            depth, ch = 5, 3
        elif bpp == 24:
            depth, ch = 8, 3
        elif bpp == 32:
            depth, ch = 8, 4
        else:
            return None
        return "bmp", w, h, depth, ch
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # Logical Screen Descriptor: u16le dims, packed byte —
        # bits 0-2 = global-color-table size exponent; GIF is
        # palette-indexed, so single channel at the index depth
        # (the paletted-BMP convention above)
        if n < 13:
            return None
        w, h = struct.unpack_from("<HH", payload, 6)
        if w == 0 or h == 0:
            return None
        depth = (payload[10] & 0x07) + 1
        return "gif", w, h, depth, 1
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # WebP: one bounds-checked chunk probe per variant — no
        # codec, exactly like the WAV RIFF walk above
        if n < 16:
            return None
        fourcc = payload[12:16]
        if fourcc == b"VP8 " and n >= 30:
            # lossy: 3-byte frame tag, 9D 01 2A sync, 14-bit dims
            if payload[23:26] != b"\x9d\x01\x2a":
                return None
            w = struct.unpack_from("<H", payload, 26)[0] & 0x3FFF
            h = struct.unpack_from("<H", payload, 28)[0] & 0x3FFF
            if w == 0 or h == 0:
                return None
            return "webp", w, h, 8, 3
        if fourcc == b"VP8L" and n >= 25:
            # lossless: 0x2F signature, 14-bit minus-one dims +
            # alpha bit packed little-endian
            if payload[20] != 0x2F:
                return None
            bits = struct.unpack_from("<I", payload, 21)[0]
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            return "webp", w, h, 8, 4 if (bits >> 28) & 1 else 3
        if fourcc == b"VP8X" and n >= 30:
            # extended: flags byte (bit 4 = alpha), 24-bit le
            # minus-one canvas dims
            alpha = payload[20] & 0x10
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return "webp", w, h, 8, 4 if alpha else 3
        return None
    return None
