"""Multimodal columns — image/audio/video as opaque `binary` columns
with typed metadata, processed via Arrow-batched mapInPandas (north-star
extension, BASELINE.json:6).

The container ships no image/audio codecs, so the DECODE step is a
clearly-marked deterministic fake (`_fake_decode`) behind the same
interface a real libjpeg/ffmpeg-backed decoder would implement; the
Spark-side plumbing — binary column handling, Arrow batch iteration,
output schema, partition-parallel execution — is real and tested.
Swap `decode_fn` for a real decoder and nothing else changes.

Scale shape: decode/feature-extract is map-only over Arrow batches; no
shuffle is introduced; binary payloads never leave their input split
until explicitly aggregated.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, format string, "
    "n_frames int"
)


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image/video decoder.  A real
    implementation would raise NotImplementedError without codecs; the
    fake derives plausible metadata purely from the byte stream so tests
    and oracles stay deterministic."""
    n = len(payload)
    return {
        "n_bytes": n,
        "width": n % 64 + 1,
        "height": (n // 64) % 64 + 1,
        "format": "fakeimg" if n % 2 == 0 else "fakevid",
        "n_frames": 1 if n % 2 == 0 else n % 30 + 1,
    }


def encode_bmp(width: int, height: int, seed: int) -> bytes:
    """Spec-conformant uncompressed 24-bit BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER, rows padded to 4 bytes) with deterministic
    grayscale pixels derived from `seed`.  Pure stdlib+numpy — the BMP
    container is public knowledge (Windows BMP v3), no codec needed."""
    import struct

    import numpy as np

    row = width * 3
    pad = (-row) % 4
    vals = ((np.arange(height * width, dtype=np.int64) * 31 + seed) % 256).astype(
        "uint8"
    )
    px = np.repeat(vals, 3).reshape(height, row)
    if pad:
        px = np.concatenate([px, np.zeros((height, pad), np.uint8)], axis=1)
    data = px.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + info + data


def encode_wav(
    n_samples: int, seed: int, sample_rate: int = 8000, quad_step: int = 0
) -> bytes:
    """Spec-conformant RIFF/WAVE file (PCM, mono, 16-bit) with a
    deterministic sample ramp derived from `seed`.  quad_step adds a
    quadratic term (i*i*quad_step) to the phase: the default linear
    ramp wraps at most once over a short clip, which makes frame-energy
    profiles nearly seed-independent (every clip is one smooth V) —
    useless as fingerprint content; a small quadratic step wraps every
    few samples, giving each (seed, n) its own pseudo-random but
    engine-reproducible waveform (multimodal_audio_dedup measured the
    difference: 879 accidental near-dup signature pairs in 300 clips at
    quad_step=0 vs 7 at quad_step=9)."""
    import struct

    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    samples = (((i * 37 + i * i * quad_step + seed) % 65536) - 32768).astype(
        "<i2"
    )
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def real_decode(payload: bytes) -> dict:
    """REAL byte parsing (VERDICT r11 #4) for the two container formats
    whose headers are trivially parseable with the stdlib — BMP
    (width/height/bpp from BITMAPINFOHEADER) and RIFF/WAVE (channels/
    bits/frame-count from the fmt and data chunks).  Same signature and
    output schema as `_fake_decode`, so it slots into decode_metadata's
    `decode_fn` unchanged; anything else parses to format='unknown'
    (quarantine-don't-crash, like jsonl_ingest's corrupt rows).  For
    WAV rows, width = channel count and height = bits per sample."""
    import struct

    n = len(payload)
    if n >= 54 and payload[:2] == b"BM":
        (file_size,) = struct.unpack_from("<I", payload, 2)
        width, height = struct.unpack_from("<ii", payload, 18)
        (bpp,) = struct.unpack_from("<H", payload, 28)
        if file_size == n and bpp in (1, 4, 8, 16, 24, 32) and width > 0:
            return {
                "n_bytes": n,
                "width": int(width),
                "height": abs(int(height)),
                "format": "bmp",
                "n_frames": 1,
            }
    if n >= 44 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, channels, bits, block_align, data_size = 12, None, None, None, None
        while pos + 8 <= n:
            cid = payload[pos : pos + 4]
            (sz,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"fmt " and sz >= 16:
                channels, _rate = struct.unpack_from("<HI", payload, pos + 10)
                block_align, bits = struct.unpack_from("<HH", payload, pos + 20)
            elif cid == b"data":
                data_size = sz
            pos += 8 + sz + (sz & 1)  # chunks are word-aligned
        if channels and block_align and data_size is not None:
            return {
                "n_bytes": n,
                "width": int(channels),
                "height": int(bits),
                "format": "wav",
                "n_frames": int(data_size // block_align),
            }
    return {"n_bytes": n, "width": 0, "height": 0, "format": "unknown", "n_frames": 0}


def dhash64(payload: bytes) -> Optional[int]:
    """64-bit difference hash (dHash — Krawetz 2013, "Kind of Like
    That"; public algorithm) from a GENUINELY PARSED uncompressed
    24-bit BMP: the pixel-array offset comes from the file header,
    width/height from the BITMAPINFOHEADER, rows are un-padded (BMP
    pads each row to 4 bytes) and un-flipped (positive-height BMPs
    store rows bottom-up), the grayscale grid is nearest-neighbor
    sampled to 9x8, and bit (r, c) is 1 iff the right neighbor is
    brighter.  Same stdlib-struct parsing discipline as real_decode —
    a bug in padding, row order, or channel layout changes the hash
    and fails the value gate.  Returns the signed 64-bit integer with
    the same bit pattern (Java long semantics, like simhash packing).

    Quarantine contract (same as real_decode, ADVICE r12): a payload
    that is not a complete uncompressed 24-bit BMP returns None instead
    of raising, so one malformed byte string can't fail a whole
    mapInPandas task — callers filter out the None sentinel (see the
    multimodal_phash_dedup signature loop) exactly like corrupt-record
    handling in ingest."""
    import struct

    if len(payload) < 30 or payload[:2] != b"BM":
        return None
    (off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    height = abs(height)
    row_bytes = (width * 3 + 3) // 4 * 4
    if bpp != 24 or width <= 0 or height <= 0 or (
        off + height * row_bytes > len(payload)
    ):
        return None
    bits = 0
    for r in range(8):
        j = height - 1 - (r * height // 8)  # bottom-up row storage
        base = off + j * row_bytes
        # blue channel of each sampled pixel; encode_bmp writes equal
        # RGB triplets, and real grayscale conversion would land here
        px = [payload[base + (c * width // 9) * 3] for c in range(9)]
        for c in range(8):
            if px[c + 1] > px[c]:
                bits |= 1 << (r * 8 + c)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


PROFILE_BANDS = 16


def bmp_band_profile(payload: bytes) -> Optional[list]:
    """Image feature vector from a GENUINELY PARSED uncompressed 24-bit
    BMP: total grayscale mass per horizontal band (band(r) =
    r*PROFILE_BANDS // height), the same parse discipline as dhash64
    (header offset, row padding, bottom-up order, blue-channel stride).
    Integer-exact: a sum of raw pixel bytes, so both engines agree
    bit-for-bit.  The 16-d profile is the stand-in for a CLIP-style
    image embedding in the image-text alignment demo — a real encoder
    slots into the same mapInPandas signature (payload batch in,
    fixed-dim vector out).  Quarantine contract: None for anything but a
    complete uncompressed 24-bit BMP (see dhash64), never an exception."""
    import struct

    if len(payload) < 30 or payload[:2] != b"BM":
        return None
    (off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    height = abs(height)
    row_bytes = (width * 3 + 3) // 4 * 4
    if bpp != 24 or width <= 0 or height <= 0 or (
        off + height * row_bytes > len(payload)
    ):
        return None
    bands = [0] * PROFILE_BANDS
    for r_img in range(height):
        base = off + (height - 1 - r_img) * row_bytes
        bands[r_img * PROFILE_BANDS // height] += sum(
            payload[base + c * 3] for c in range(width)
        )
    return bands


def audio_fingerprint64(payload: bytes) -> Optional[int]:
    """64-bit audio fingerprint from a GENUINELY PARSED RIFF/WAVE file
    — the audio analog of dhash64, in the spirit of spectral-delta
    fingerprints (Chromaprint/Shazam-style sign-of-difference coding,
    public technique): walk the RIFF chunks to the data chunk, decode
    the int16 PCM samples, bucket them into 65 equal frames
    (frame(i) = i*65 // n), take each frame's total absolute amplitude
    as its energy, and set bit f iff frame f+1 is louder than frame f.
    Depends ONLY on the decoded sample stream — container metadata
    (sample rate, chunk layout) does not move it, which is exactly what
    makes it a dedup key for re-encoded copies of the same audio.
    Quarantine contract (same as real_decode, ADVICE r12): a payload
    that is not RIFF/WAVE, lacks a data chunk, or whose data chunk is
    truncated or empty returns None instead of raising — one malformed
    byte string must not fail the whole mapInPandas task."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, data_off, data_size = 12, None, 0
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"data":
            data_off, data_size = pos + 8, sz
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    n = data_size // 2
    if data_off is None or n == 0 or data_off + n * 2 > len(payload):
        return None
    samples = struct.unpack_from(f"<{n}h", payload, data_off)
    energy = [0] * 65
    for i, s in enumerate(samples):
        energy[i * 65 // n] += abs(s)
    bits = 0
    for f in range(64):
        if energy[f + 1] > energy[f]:
            bits |= 1 << f
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def attach_real_payload(docs: DataFrame) -> DataFrame:
    """Materialize GENUINE container bytes: even doc_ids get a real BMP
    (width/height derived from doc_id), odd doc_ids a real WAV (sample
    count derived from `n_chars`) — built per Arrow batch, decoded
    back by real_decode's actual header parsing.  Map-only; payloads
    are created and consumed inside their split."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, seed in zip(pdf["doc_id"], pdf["n_chars"]):
                d, s = int(doc_id), int(seed)
                if d % 2 == 0:
                    payloads.append(encode_bmp(d % 64 + 1, d % 48 + 1, s))
                else:
                    payloads.append(encode_wav(s % 1000 + 8, seed=d))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payloads})

    return docs.select("doc_id", "n_chars").mapInPandas(
        run, "doc_id long, payload binary"
    )


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (UTF-8 bytes of `text`
    standing in for image bytes) — the fixture has no true binary
    column, but the pipeline downstream treats it as opaque."""
    return docs.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def decode_metadata(
    df: DataFrame,
    decode_fn: Optional[Callable[[bytes], dict]] = None,
) -> DataFrame:
    """mapInPandas decode: (doc_id, payload) binary -> typed metadata
    rows."""
    decode = decode_fn or _fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode(bytes(b)) for b in pdf["payload"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(run, DECODE_SCHEMA)


def frame_sample(
    decoded: DataFrame,
    every_nth: int = 10,
) -> DataFrame:
    """Frame sampling for 'video' rows: 1 metadata row -> ceil(n/ k)
    frame rows, as a JVM-side generator (no UDF needed once metadata is
    typed)."""
    idx = F.sequence(
        F.lit(0), F.greatest(F.lit(0), (F.col("n_frames") - 1) / every_nth).cast("int")
    )
    return decoded.filter(F.col("format") == "fakevid").select(
        "doc_id",
        "n_frames",
        F.explode(F.transform(idx, lambda i: i * every_nth)).alias("frame_idx"),
    )


FEATURE_BINS = 16


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over opaque (doc_id, payload) binary payloads:
    a normalized byte-histogram embedding (FEATURE_BINS buckets of
    256/FEATURE_BINS byte values),
    as an Arrow-batched pandas UDF — the multimodal analog of the text
    embedder, and the exact batch shape a real CLIP/wav2vec feature
    extractor would use (payload batch in -> fixed-dim vector batch
    out).  Deterministic: features depend only on the bytes.  Map-only;
    payloads never shuffle."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    width = 256 // FEATURE_BINS

    # micro-unit integer output (count * 1e6 // size — PURE integer
    # arithmetic): the repo-wide determinism discipline.  The earlier
    # floor(float_div * 1e6) form could disagree with an engine's
    # integer division by one unit whenever the float quotient rounds
    # UP across an integer boundary; exact int arithmetic cannot.
    @pandas_udf("array<bigint>")
    def feats(payloads: pd.Series) -> pd.Series:
        out = []
        for b in payloads:
            arr = np.frombuffer(bytes(b), dtype=np.uint8)
            if arr.size == 0:
                out.append([0] * FEATURE_BINS)
                continue
            hist = np.bincount(arr // width, minlength=FEATURE_BINS).astype("int64")
            micro = hist * 1_000_000 // arr.size
            out.append([int(x) for x in micro])
        return pd.Series(out)

    return df.select("doc_id", feats(F.col("payload")).alias("features"))


def resize_stub(
    df: DataFrame,
    out_w: int = 8,
    out_h: int = 8,
) -> DataFrame:
    """'Resize' for opaque (doc_id, payload) payloads: nearest-neighbor
    byte resampling to out_w*out_h bytes via mapInPandas — a
    deterministic stand-in for a real image resize (no codecs in the
    container; a libvips/PIL-backed fn slots into the same signature).
    Output schema carries the new payload plus its dimensions, mirroring
    how a real pipeline feeds resized tensors downstream.  Map-only,
    Arrow-batched."""
    import numpy as np

    target = out_w * out_h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, sizes = [], []
            for b in pdf["payload"]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                if arr.size == 0:
                    res = np.zeros(target, dtype=np.uint8)
                else:
                    idx = (np.arange(target) * arr.size // target).clip(
                        0, arr.size - 1
                    )
                    res = arr[idx]
                payloads.append(res.tobytes())
                sizes.append(int(arr.size))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes_in": sizes,
                    "out_w": out_w,
                    "out_h": out_h,
                    "resized": payloads,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        run, "doc_id long, n_bytes_in long, out_w int, out_h int, resized binary"
    )
