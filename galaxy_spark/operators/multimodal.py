"""Multimodal column operators: image/audio/video as opaque binary.

Model (driver mandate, SURVEY.md §2.2): media travels through the
engine as an opaque ``binary`` payload column plus a typed metadata
struct — the engine never interprets pixels on the JVM side. All
decode / feature-extract / resize / frame-sample steps run as
Arrow-batched ``mapInPandas`` stages so the hot path is vectorized
numpy over columnar batches, never row-at-a-time Python.

Scale notes (100 TB): every operator here is embarrassingly
parallel — no shuffle, no state; cost is one scan of the payload
column. Payload bytes stay off the driver. Partition sizing is the
only knob that matters: media rows are fat, so inputs should be
written with row-group sizes that keep a batch of payloads within
executor memory (``spark.sql.files.maxPartitionBytes`` +
``maxRecordsPerBatch`` bound Arrow batch memory).

Codec status (r6): ``real_decode`` REALLY decodes three formats
with stdlib-only codecs — PCM WAV via the ``wave`` module,
(non-interlaced, 8-bit gray/RGB/indexed-free) PNG via ``zlib`` with
all five standard scanline filters, and multi-frame animated GIF
(full LZW decompression, transparency, sub-rectangle frame
compositing — the video-adjacent tier, so ``sample_frames_real``
samples genuinely decoded frames) — verified against golden bytes
in tests. Video: the mp4/ISO-BMFF CONTAINER tier is real since r8
(``parse_mp4``: box walk, mvhd/tkhd/hdlr/stsd, and r9's avcC codec
config — profile/level/NAL length); only the H.264 BITSTREAM decode
inside the samples still raises — there is no stdlib route to an
H.264 stream, and shipping a fake there would be dishonest. The
synthetic-fixture queries keep using the
deterministic fake (``_fake_decode``) because the driver's parquet
fixtures carry text-derived payloads, not real media; the plumbing
(schema, UDF signatures, Arrow batch iteration, output shapes) is
identical on both paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: typed metadata carried next to every payload
MEDIA_META_TYPE = T.StructType([
    T.StructField("modality", T.StringType(), False),     # image|audio|video
    T.StructField("fmt", T.StringType(), False),          # png|wav|mp4 (fake)
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),  # audio only
    T.StructField("n_frames", T.IntegerType(), True),     # video only
])

MODALITIES = ("image", "audio", "video")
_FMT = {"image": "png", "audio": "wav", "video": "mp4"}


def synthesize_media(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic media table derived from the ``documents``
    fixture: payload = utf-8 bytes of the text, modality assigned
    round-robin by id, dimensions derived from payload length.

    This is the test-harness adapter; production reads parquet that
    already carries ``(media_id, payload, meta)``. Kept as pure
    column algebra so Catalyst prunes/pushes through it.
    """
    from galaxy_spark.operators.util import spread
    docs = spread(docs)  # 1-file test scan -> parallel Pandas stages
    payload = F.encode(F.col(text_col), "UTF-8")
    plen = F.length(payload)
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col(id_col) % 3 + 1).cast("int"))
    fmt = F.element_at(
        F.array(*[F.lit(_FMT[m]) for m in MODALITIES]),
        (F.col(id_col) % 3 + 1).cast("int"))
    is_img, is_aud, is_vid = [modality == m for m in MODALITIES]
    # image: widest 16xN grid that fits; video: 8x8 frames; audio: 1-D
    width = F.when(is_img, F.least(plen, F.lit(16))) \
             .when(is_vid, F.lit(8)).otherwise(F.lit(None)).cast("int")
    height = F.when(is_img, F.floor(plen / 16)) \
              .when(is_vid, F.lit(8)).otherwise(F.lit(None)).cast("int")
    channels = F.when(is_img | is_vid, F.lit(1)).cast("int")
    sample_rate = F.when(is_aud, F.lit(16000)).cast("int")
    n_frames = F.when(is_vid, F.floor(plen / 64)).cast("int")
    return docs.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            modality.alias("modality"), fmt.alias("fmt"),
            width.alias("width"), height.alias("height"),
            channels.alias("channels"), sample_rate.alias("sample_rate"),
            n_frames.alias("n_frames"),
        ).alias("meta"),
    )


def real_decode(payload: bytes, fmt: str) -> np.ndarray:
    """Real codec hook.

    ``wav`` -> (n_samples, channels) int array (stdlib ``wave``:
    8-bit unsigned / 16- / 32-bit signed little-endian PCM).
    ``png`` -> (H, W) or (H, W, 3|4) uint8 (stdlib ``zlib`` +
    full filter reconstruction — see ``_decode_png``).
    ``gif`` -> (n_frames, H, W, 3) uint8: REAL multi-frame decode
    (LZW + compositing, ``_decode_gif``) — the video-adjacent tier
    frame sampling runs on genuinely.
    ``mp4`` raises: no stdlib H.264 decoder exists; wire pyav here
    in production (the Spark-side plumbing is format-agnostic).
    """
    if fmt == "wav":
        return _decode_wav(payload)
    if fmt == "png":
        return _decode_png(payload)
    if fmt == "gif":
        return _decode_gif(payload)
    raise NotImplementedError(
        f"real {fmt!r} FRAME decoding requires pyav/ffmpeg (an H.264 "
        "bitstream decoder); wire it here — the container-metadata "
        "tier (parse_mp4 / video_container_metadata: brand, "
        "timescale, duration, tracks, codec, dimensions, mdat "
        "accounting) is already real, and all Spark-side plumbing "
        "works")


def _decode_wav(payload: bytes) -> np.ndarray:
    """PCM WAV -> (n_samples, n_channels). Genuine RIFF parsing via
    the stdlib ``wave`` module; sample widths 1/2/4 bytes map to
    uint8 / int16-LE / int32-LE per the WAV spec."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n, ch, sw = w.getnframes(), w.getnchannels(), w.getsampwidth()
        raw = w.readframes(n)
    try:
        dtype = {1: np.dtype(np.uint8), 2: np.dtype("<i2"),
                 4: np.dtype("<i4")}[sw]
    except KeyError:
        raise ValueError(f"unsupported WAV sample width {sw}")
    return np.frombuffer(raw, dtype=dtype).reshape(-1, ch)


def _decode_png(payload: bytes) -> np.ndarray:
    """Minimal REAL PNG decoder (stdlib only): signature + chunk
    walk, IHDR validation, concatenated-IDAT zlib inflate, and
    per-scanline reconstruction of all five standard filter types
    (None/Sub/Up/Average/Paeth — PNG spec §9). Supports the
    non-interlaced 8-bit-depth color types: 0 (gray), 2 (RGB),
    4 (gray+alpha), 6 (RGBA)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, []
    while pos < len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length                     # length + type + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or interlace != 0 or comp != 0 or filt != 0:
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={color}, "
            f"interlace={interlace})")
    nch = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if nch is None:
        raise ValueError(f"unsupported PNG color type {color}")
    raw = zlib.decompress(b"".join(idat))
    stride = width * nch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.intc)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride,
            offset=y * (stride + 1) + 1).astype(np.intc)
        if f == 0:                                      # None
            cur = line
        elif f == 1:                                    # Sub
            cur = line.copy()
            for x in range(nch, stride):
                cur[x] = (cur[x] + cur[x - nch]) & 0xFF
        elif f == 2:                                    # Up
            cur = (line + prev) & 0xFF
        elif f == 3:                                    # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - nch] if x >= nch else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:                                    # Paeth
            cur = line.copy()
            for x in range(stride):
                a = cur[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    arr = out.reshape(height, width, nch)
    return arr[:, :, 0] if nch == 1 else arr


def _gif_lzw_decode(min_code_size: int, data: bytes) -> bytes:
    """GIF-variant LZW (GIF89a spec appendix F): variable code
    width starting at min+1 bits, codes packed LSB-first, CLEAR
    resets the dictionary, EOI ends the stream, width grows when
    the dictionary fills a power of two, capped at 12 bits."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total = 0, len(data) * 8
    while bitpos + code_size <= total:
        i = bitpos // 8
        window = int.from_bytes(data[i:i + 3], "little")
        code = (window >> (bitpos % 8)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt GIF LZW stream: code {code} "
                             f"with table size {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out)


def _decode_gif(payload: bytes) -> np.ndarray:
    """REAL multi-frame GIF decoder (stdlib-only, GIF89a spec):
    header + logical screen descriptor, global/local color tables,
    graphic-control extensions (transparency honored; disposal
    "none"/"keep" supported), per-frame image descriptors with
    sub-rectangle placement, and full LZW decompression of the
    pixel-index stream. Returns (n_frames, H, W, 3) uint8 — each
    frame the fully composited canvas, which is what a
    frame-sampling training pipeline wants. Interlaced images and
    restore-disposal variants raise rather than guess."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    W, H, packed, _bg, _aspect = struct.unpack(
        "<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, 3 * n,
                            pos).reshape(n, 3)
        pos += 3 * n

    frames: list[np.ndarray] = []
    canvas = np.zeros((H, W, 3), dtype=np.uint8)
    transparent: int | None = None
    while pos < len(payload):
        block = payload[pos]; pos += 1
        if block == 0x3B:                                 # trailer
            break
        if block == 0x21:                                 # extension
            label = payload[pos]; pos += 1
            if label == 0xF9:                             # GCE
                size = payload[pos]; pos += 1
                flags, _delay, tindex = struct.unpack(
                    "<BHB", payload[pos:pos + size]); pos += size
                disposal = (flags >> 2) & 0x07
                if disposal > 1:
                    raise ValueError(
                        f"unsupported GIF disposal method {disposal}")
                transparent = tindex if flags & 0x01 else None
                pos += 1                                  # terminator
            else:                                         # skip subblocks
                while payload[pos]:
                    pos += 1 + payload[pos]
                pos += 1
        elif block == 0x2C:                               # image
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", payload[pos:pos + 9]); pos += 9
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            palette = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                palette = np.frombuffer(payload, np.uint8, 3 * n,
                                        pos).reshape(n, 3)
                pos += 3 * n
            if palette is None:
                raise ValueError("GIF image with no color table")
            min_code = payload[pos]; pos += 1
            data = bytearray()
            while payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.frombuffer(_gif_lzw_decode(min_code, bytes(data)),
                                np.uint8)
            if idx.size != w * h:
                raise ValueError(
                    f"GIF frame pixel count {idx.size} != {w}x{h}")
            idx = idx.reshape(h, w)
            region = canvas[top:top + h, left:left + w]
            rgb = palette[idx]
            if transparent is not None:
                keep = (idx == transparent)[..., None]
                rgb = np.where(keep, region, rgb)
            canvas[top:top + h, left:left + w] = rgb
            frames.append(canvas.copy())
            # GIF89a: a Graphic Control Extension governs only the
            # single rendering block that follows it — a later frame
            # with no GCE of its own must not inherit this one's
            # transparent index.
            transparent = None
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image frames")
    return np.stack(frames)


def _fake_decode(payload: bytes, height: int, width: int) -> np.ndarray:
    """Deterministic fake decoder: payload bytes -> uint8 HxW tensor
    (truncate/clip to the metadata dimensions)."""
    need = height * width
    arr = np.frombuffer(payload, dtype=np.uint8)[:need]
    if arr.size < need:
        arr = np.pad(arr, (0, need - arr.size))
    return arr.reshape(height, width)


DECODED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("pixels", T.ArrayType(T.IntegerType()), False),
])


def decode_images(media: DataFrame) -> DataFrame:
    """Decode image payloads -> flattened uint8 pixel arrays.

    Arrow-batched ``mapInPandas``: each batch decodes vectorized,
    emits one row per image. Non-image rows are dropped JVM-side
    *before* the Python exchange (filter pushdown keeps audio/video
    payload bytes out of the Arrow channel entirely).
    """
    imgs = media.filter(F.col("meta.modality") == "image") \
                .select("media_id", "payload",
                        F.col("meta.height").alias("h"),
                        F.col("meta.width").alias("w"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "height": pdf["h"].astype("int32"),
                "width": pdf["w"].astype("int32"),
                "pixels": [
                    _fake_decode(p, h, w).ravel().astype("int32").tolist()
                    for p, h, w in zip(pdf["payload"], pdf["h"], pdf["w"])
                ],
            })

    return imgs.mapInPandas(decode, schema=DECODED_SCHEMA)


def resize_images(decoded: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel tensors (numpy
    fancy-indexing per Arrow batch — vectorized, no per-pixel Python).
    """
    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("pixels", T.ArrayType(T.IntegerType()), False),
    ])

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keep = pdf["height"] * pdf["width"] > 0
            pdf = pdf[keep]
            if pdf.empty:
                continue
            out = []
            for h, w, px in zip(pdf["height"], pdf["width"], pdf["pixels"]):
                img = np.asarray(px, dtype=np.int32).reshape(h, w)
                ri = (np.arange(out_h) * h) // out_h
                ci = (np.arange(out_w) * w) // out_w
                out.append(img[np.ix_(ri, ci)].ravel().tolist())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "height": np.int32(out_h), "width": np.int32(out_w),
                "pixels": out,
            })

    return decoded.mapInPandas(resize, schema=schema)


IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("mean_px", T.DoubleType(), False),
    T.StructField("std_px", T.DoubleType(), False),
    T.StructField("min_px", T.IntegerType(), False),
    T.StructField("max_px", T.IntegerType(), False),
])


def image_features(decoded: DataFrame) -> DataFrame:
    """Per-image intensity statistics (the feature-extraction stage;
    a real embedding model would slot into the same signature)."""
    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for mid, px in zip(pdf["media_id"], pdf["pixels"]):
                a = np.asarray(px, dtype=np.float64)
                # E[x^2]-E[x]^2 over exact integer sums (not a.std()'s
                # mean-centered pass) so any engine recomputing from
                # the same bytes lands on the identical double
                n = a.size
                if n == 0:
                    # zero-pixel image (payload shorter than one row):
                    # no features, mirroring audio's empty-wave branch
                    continue
                mean = float(a.sum()) / n
                var = float((a * a).sum()) / n - mean * mean
                rows.append((mid, mean, float(np.sqrt(max(var, 0.0))),
                             int(a.min()), int(a.max())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "mean_px", "std_px", "min_px", "max_px"])

    return decoded.mapInPandas(feats, schema=IMAGE_FEATURES_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame", T.BinaryType(), False),
])


def sample_frames(media: DataFrame, every_k: int = 4,
                  frame_bytes: int = 64) -> DataFrame:
    """Video frame sampling: split the payload into fixed-size frame
    chunks, keep every k-th. Emits one row per sampled frame (output
    cardinality > input — ``mapInPandas`` handles the fan-out without
    an explode shuffle)."""
    vids = media.filter(F.col("meta.modality") == "video") \
                .select("media_id", "payload",
                        F.col("meta.n_frames").alias("n_frames"))

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, idxs, frames = [], [], []
            for mid, payload, nf in zip(pdf["media_id"], pdf["payload"],
                                        pdf["n_frames"]):
                for i in range(0, int(nf), every_k):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(bytes(
                        payload[i * frame_bytes:(i + 1) * frame_bytes]))
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame": frames,
            })

    return vids.mapInPandas(sample, schema=FRAME_SCHEMA)


def sample_frames_real(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling over GENUINELY DECODED frames: payloads with
    ``meta.fmt == 'gif'`` run through the real multi-frame decoder
    and every k-th composited frame is emitted as raw RGB bytes
    (H*W*3, row-major) — the same plumbing shape as the synthetic
    ``sample_frames`` tier (Arrow ``mapInPandas``, fan-out without
    an explode shuffle, payloads never on the driver), with the
    decode step real instead of byte-slicing."""
    gifs = media.filter(F.col("meta.fmt") == "gif") \
                .select("media_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = _decode_gif(bytes(payload))
                for i in range(0, arr.shape[0], every_k):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(arr[i].tobytes())
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame": frames,
            })

    return gifs.mapInPandas(sample, schema=FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_samples", T.IntegerType(), False),
    T.StructField("rms", T.DoubleType(), False),
    T.StructField("zero_crossings", T.IntegerType(), False),
])


def audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction on the fake int8-waveform view of the
    payload: RMS energy + zero-crossing count (vectorized numpy)."""
    auds = media.filter(F.col("meta.modality") == "audio") \
                .select("media_id", "payload")

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                wave = np.frombuffer(payload, dtype=np.int8).astype(np.float64)
                if wave.size == 0:
                    rows.append((mid, 0, 0.0, 0))
                    continue
                zc = int(np.sum(np.signbit(wave[1:]) != np.signbit(wave[:-1])))
                rows.append((mid, wave.size,
                             float(np.sqrt(np.mean(wave ** 2))), zc))
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_samples", "rms", "zero_crossings"])

    return auds.mapInPandas(feats, schema=AUDIO_FEATURES_SCHEMA)


# ------------------------------------------------------------------
# MP4 / ISO-BMFF container tier (public spec: ISO/IEC 14496-12)
# ------------------------------------------------------------------
# The container METADATA path is now real: box walking, ftyp brand,
# version-0/1 mvhd, per-track tkhd/hdlr/stsd, mdat accounting,
# 64-bit largesize and size==0-to-EOF framing. Only the codec
# bitstream decode (H.264 inside the samples) still raises — that
# genuinely needs pyav/ffmpeg — so the honest-refusal surface
# shrank from "mp4" to "mp4 FRAMES".

import struct as _struct


def _mp4_boxes(buf: bytes, start: int, end: int,
               top_level: bool = False):
    """Iterate (fourcc, body_start, body_end) over a box span.
    Framing per the spec: u32 BE size incl. header; size==1 ->
    u64 largesize follows the fourcc; size==0 -> box runs to the
    end of the FILE, which the spec permits ONLY for the last
    top-level box — a size-0 NESTED box (one corrupted byte) would
    silently swallow every sibling, so it raises here (r8 review
    finding). Malformed framing raises."""
    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError(
                f"mp4: truncated box header at offset {off}")
        size = int.from_bytes(buf[off:off + 4], "big")
        fourcc = buf[off + 4:off + 8]
        body = off + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError(
                    f"mp4: truncated largesize at offset {off}")
            size = int.from_bytes(buf[body:body + 8], "big")
            body += 8
            if size < 16:
                raise ValueError(
                    f"mp4: largesize {size} too small at {off}")
        elif size == 0:
            if not top_level:
                raise ValueError(
                    f"mp4: size-0 box {fourcc!r} at offset {off} is "
                    "only legal as the last TOP-LEVEL box")
            size = end - off
        elif size < 8:
            raise ValueError(
                f"mp4: box size {size} too small at offset {off}")
        if off + size > end:
            raise ValueError(
                f"mp4: box {fourcc!r} at {off} claims size {size} "
                f"past span end {end}")
        yield fourcc, body, off + size
        off += size


def _mp4_find(buf: bytes, start: int, end: int, fourcc: bytes,
              top_level: bool = False) -> tuple | None:
    for fc, b, e in _mp4_boxes(buf, start, end, top_level):
        if fc == fourcc:
            return b, e
    return None


def _mp4_field(payload: bytes, body: tuple, off: int, n: int,
               what: str) -> bytes:
    """A field read BOUNDED by its box body: reading past the body
    end (short/corrupt box) raises instead of silently returning
    bytes of the next box as plausible-looking metadata (r8 review
    finding — a 4-byte tkhd 'returned' width 29803 from the sibling
    box's fourcc)."""
    b, e = body
    if b + off + n > e:
        raise ValueError(
            f"mp4: {what} truncated (box body {e - b} bytes, field "
            f"needs {off + n})")
    return payload[b + off:b + off + n]


def parse_mp4(payload: bytes) -> dict:
    """Parse an ISO-BMFF (mp4/mov) container's structural metadata:
    major brand, movie timescale + duration (version-0 AND
    version-1 mvhd), per-track handler/codec/dimensions from
    tkhd + hdlr + stsd, and total mdat bytes. Refuse-don't-guess:
    missing magic boxes or torn framing raise with the box named.
    Codec BITSTREAM decode is out of scope (see ``real_decode``)."""
    n = len(payload)
    ftyp = _mp4_find(payload, 0, n, b"ftyp", top_level=True)
    if ftyp is None:
        raise ValueError("mp4: no ftyp box — not an ISO-BMFF file")
    brand = _mp4_field(payload, ftyp, 0, 4, "ftyp major brand") \
        .decode("ascii", "replace")
    moov = _mp4_find(payload, 0, n, b"moov", top_level=True)
    if moov is None:
        raise ValueError("mp4: no moov box (movie metadata missing)")
    mvhd = _mp4_find(payload, moov[0], moov[1], b"mvhd")
    if mvhd is None:
        raise ValueError("mp4: moov has no mvhd")
    version = _mp4_field(payload, mvhd, 0, 1, "mvhd version")[0]
    if version == 1:                       # 64-bit times
        timescale = int.from_bytes(
            _mp4_field(payload, mvhd, 20, 4, "mvhd timescale"), "big")
        duration = int.from_bytes(
            _mp4_field(payload, mvhd, 24, 8, "mvhd duration"), "big")
        unknown = duration == 0xFFFFFFFFFFFFFFFF
    else:
        timescale = int.from_bytes(
            _mp4_field(payload, mvhd, 12, 4, "mvhd timescale"), "big")
        duration = int.from_bytes(
            _mp4_field(payload, mvhd, 16, 4, "mvhd duration"), "big")
        unknown = duration == 0xFFFFFFFF
    if timescale == 0:
        raise ValueError("mp4: mvhd timescale is 0")
    # all-ones duration is the spec's UNKNOWN sentinel (live /
    # fragmented muxers) — carry null, and never let the ms
    # conversion overflow int64 (r8 review finding: the sentinel
    # crashed the Arrow stage)
    duration_ms = None if unknown else duration * 1000 // timescale
    if duration_ms is not None and duration_ms >= 1 << 63:
        raise ValueError(
            f"mp4: implausible duration {duration} at timescale "
            f"{timescale}")

    tracks = []
    for fc, tb, te in _mp4_boxes(payload, moov[0], moov[1]):
        if fc != b"trak":
            continue
        tkhd = _mp4_find(payload, tb, te, b"tkhd")
        width = height = None
        if tkhd is not None:
            # width/height are the LAST two 16.16 fields; a spec
            # tkhd body is 84 (v0) / 96 (v1) bytes — shorter means
            # the tail read would leave the box
            body_len = tkhd[1] - tkhd[0]
            if body_len < 84:
                raise ValueError(
                    f"mp4: tkhd truncated ({body_len} bytes)")
            width = int.from_bytes(
                payload[tkhd[1] - 8:tkhd[1] - 4], "big") >> 16
            height = int.from_bytes(
                payload[tkhd[1] - 4:tkhd[1]], "big") >> 16
        handler = codec = None
        profile = level = nal_len = None
        mdia = _mp4_find(payload, tb, te, b"mdia")
        if mdia is not None:
            hdlr = _mp4_find(payload, mdia[0], mdia[1], b"hdlr")
            if hdlr is not None:
                handler = _mp4_field(payload, hdlr, 8, 4,
                                     "hdlr handler type") \
                    .decode("ascii", "replace")
            minf = _mp4_find(payload, mdia[0], mdia[1], b"minf")
            if minf is not None:
                stbl = _mp4_find(payload, minf[0], minf[1], b"stbl")
                if stbl is not None:
                    stsd = _mp4_find(payload, stbl[0], stbl[1],
                                     b"stsd")
                    if stsd is not None and int.from_bytes(
                            _mp4_field(payload, stsd, 4, 4,
                                       "stsd entry count"),
                            "big") >= 1:
                        entry = next(_mp4_boxes(payload,
                                                stsd[0] + 8,
                                                stsd[1]), None)
                        if entry is not None:
                            efc, eb, ee = entry
                            codec = efc.decode("ascii", "replace")
                            # AVC codec CONFIG (still container
                            # metadata, not bitstream): child boxes
                            # of a VisualSampleEntry start after its
                            # 78 fixed bytes; the avcC
                            # AVCDecoderConfigurationRecord leads
                            # with version, AVCProfileIndication,
                            # profile_compat, AVCLevelIndication,
                            # then lengthSizeMinusOne in the low 2
                            # bits of byte 4 (ISO/IEC 14496-15)
                            if efc in (b"avc1", b"avc3") \
                                    and eb + 78 < ee:
                                avcc = _mp4_find(payload, eb + 78,
                                                 ee, b"avcC")
                                if avcc is not None:
                                    rec = _mp4_field(
                                        payload, avcc, 0, 5,
                                        "avcC config record")
                                    if rec[0] == 1:
                                        profile = rec[1]
                                        level = rec[3]
                                        nal_len = (rec[4] & 0x03) + 1
        tracks.append({"handler": handler, "codec": codec,
                       "width": width, "height": height,
                       "codec_profile": profile,
                       "codec_level": level,
                       "nal_length_size": nal_len})

    mdat_bytes = sum(e - bb for fc, bb, e in
                     _mp4_boxes(payload, 0, n, top_level=True)
                     if fc == b"mdat")
    vid = next((t for t in tracks if t["handler"] == "vide"),
               tracks[0] if tracks else
               {"codec": None, "width": None, "height": None,
                "codec_profile": None, "codec_level": None,
                "nal_length_size": None})
    return {
        "brand": brand,
        "timescale": timescale,
        "duration_ms": duration_ms,
        "n_tracks": len(tracks),
        "codec": vid["codec"],
        "width": vid["width"],
        "height": vid["height"],
        "codec_profile": vid["codec_profile"],
        "codec_level": vid["codec_level"],
        "nal_length_size": vid["nal_length_size"],
        "mdat_bytes": mdat_bytes,
    }


def _box(fourcc: bytes, body: bytes) -> bytes:
    return _struct.pack(">I", 8 + len(body)) + fourcc + body


_MP4_MATRIX = b"".join(_struct.pack(">i", v) for v in
                       (0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                        0x40000000))


def build_mp4(payload: bytes, width: int, height: int,
              duration_ms: int, profile: int = 100,
              level: int = 41) -> bytes:
    """A minimal REAL ISO-BMFF file (spec-layout boxes, parseable by
    any mp4 tool): ftyp(isom) + moov(mvhd + one video trak with
    tkhd/mdhd/hdlr/minf/stbl/stsd(avc1 + avcC codec config)) +
    mdat(payload). The synthesis twin for the oracle query and
    tests — the PARSER is the product; timescale fixed at 1000 so
    duration is in ms; default profile/level = High@4.1."""
    ftyp = _box(b"ftyp", b"isom" + _struct.pack(">I", 512)
                + b"isomavc1")
    mvhd = _box(b"mvhd", bytes(4)                       # v0 + flags
                + _struct.pack(">IIII", 0, 0, 1000, duration_ms)
                + _struct.pack(">IHH", 0x00010000, 0x0100, 0)
                + bytes(8) + _MP4_MATRIX + bytes(24)
                + _struct.pack(">I", 2))
    tkhd = _box(b"tkhd", b"\x00\x00\x00\x01"            # v0, enabled
                + _struct.pack(">IIII", 0, 0, 1, 0)
                + _struct.pack(">I", duration_ms) + bytes(8)
                + _struct.pack(">hhHH", 0, 0, 0, 0) + _MP4_MATRIX
                + _struct.pack(">II", width << 16, height << 16))
    mdhd = _box(b"mdhd", bytes(4)
                + _struct.pack(">IIII", 0, 0, 1000, duration_ms)
                + _struct.pack(">HH", 0x55C4, 0))
    hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"vide"
                + bytes(12) + b"galaxy\x00")
    # avcC: AVCDecoderConfigurationRecord (version 1, profile,
    # compat 0, level, lengthSizeMinusOne=3 -> 4-byte NALs, zero
    # SPS/PPS — config metadata only, no bitstream)
    avcc = _box(b"avcC", bytes([1, profile, 0, level,
                                0xFC | 0x03, 0xE0, 0]))
    stsd = _box(b"stsd", bytes(4) + _struct.pack(">I", 1)
                + _box(b"avc1", bytes(78) + avcc))
    stbl = _box(b"stbl", stsd + _box(b"stts", bytes(8))
                + _box(b"stsc", bytes(8))
                + _box(b"stsz", bytes(12))
                + _box(b"stco", bytes(8)))
    minf = _box(b"minf",
                _box(b"vmhd", _struct.pack(">I", 1) + bytes(8))
                + _box(b"dinf", _box(b"dref",
                                     bytes(4) + _struct.pack(">I", 1)
                                     + _box(b"url ",
                                            b"\x00\x00\x00\x01")))
                + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + moov + _box(b"mdat", payload)


MP4_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("brand", T.StringType(), True),
    T.StructField("timescale", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("n_tracks", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("codec_profile", T.IntegerType(), True),
    T.StructField("codec_level", T.IntegerType(), True),
    T.StructField("nal_length_size", T.IntegerType(), True),
    T.StructField("mdat_bytes", T.LongType(), True),
])


def wrap_mp4(media: DataFrame, width: int = 8, height: int = 8) \
        -> DataFrame:
    """Wrap each payload into a real ISO-BMFF container (mdat =
    payload; duration_ms = payload length) — the Arrow synthesis
    stage feeding the parser through genuine Spark binary columns."""
    sel = media.select("media_id", "payload")

    def wrap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                pb = bytes(p)
                rows.append((int(mid),
                             build_mp4(pb, width, height, len(pb))))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return sel.mapInPandas(
        wrap, "media_id long, payload binary")


def video_container_metadata(media: DataFrame) -> DataFrame:
    """Parse each mp4 payload's container metadata (REAL ISO-BMFF
    box walk) in an Arrow-batched mapInPandas stage — shuffle-free,
    scan-parallel, the same plumbing shape as every decoder here."""
    sel = media.select("media_id", "payload")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = parse_mp4(bytes(p))
                rows.append((int(mid), m["brand"], m["timescale"],
                             m["duration_ms"], m["n_tracks"],
                             m["codec"], m["width"], m["height"],
                             m["codec_profile"], m["codec_level"],
                             m["nal_length_size"], m["mdat_bytes"]))
            yield pd.DataFrame(rows, columns=[
                "media_id", "brand", "timescale", "duration_ms",
                "n_tracks", "codec", "width", "height",
                "codec_profile", "codec_level", "nal_length_size",
                "mdat_bytes"])

    return sel.mapInPandas(parse, MP4_META_SCHEMA)
