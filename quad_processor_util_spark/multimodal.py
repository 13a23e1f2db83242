"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched mapInPandas.

Decode is REAL for the library-free formats:
- PPM (P6) images — pure numpy header parse + raster reshape, with
  nearest-neighbor resize, 8×8 grayscale thumbnail features, and a 64-bit
  average-hash (near-dup fingerprint that feeds the embedding-similarity
  operators);
- WAV PCM-16 audio — stdlib `wave` + numpy: sample rate, duration, RMS,
  zero-crossing rate, 32-bin amplitude-histogram features.

Codec formats that require absent libs (JPEG/PNG/MP3/MP4 …) remain STUBBED
behind `on_unsupported`: 'error' raises NotImplementedError (declared,
honest), 'fake' substitutes the deterministic checksum decoder so the
Spark-side contract — schema, partitioning, UDF signature, Arrow batch
shape — still runs end-to-end.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from .session import worker_kernel

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),        # image | audio | video
    StructField("mime", StringType()),
    StructField("payload", BinaryType()),     # opaque bytes
    StructField("width", IntegerType()),      # typed metadata (nullable)
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
])

def _fake_decode(payload: bytes) -> tuple[str, int, int]:
    """Deterministic fake 'decode': checksum + pseudo feature vector stats."""
    h = hashlib.sha256(payload or b"").hexdigest()
    feat_dim = 16
    feature_hash = int(h[:15], 16)
    return h, feat_dim, feature_hash


# ---------------------------------------------------------------------------
# real, library-free decoders
# ---------------------------------------------------------------------------


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6, maxval<=255) into an (h, w, 3) uint8 array.
    Pure header tokenization + numpy frombuffer — no imaging library."""
    toks: list[bytes] = []
    i = 0
    while len(toks) < 4:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            nl = payload.find(b"\n", i)
            if nl < 0:
                raise ValueError("truncated PPM header")
            i = nl + 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        toks.append(payload[i:j])
        i = j
    if toks[0] != b"P6":
        raise ValueError(f"not a P6 PPM: {toks[0]!r}")
    w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    if maxval != 255:
        # a sub-255 maxval is legal P6 but would need raster rescaling to
        # honor image_features' normalized-gray contract; declared
        # unsupported rather than silently mis-scaled (round-5 review)
        raise ValueError(f"unsupported PPM maxval {maxval} (only 255)")
    off = i + 1  # exactly one whitespace byte after maxval
    img = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=off)
    return img.reshape(h, w, 3)


def resize_nearest(img: np.ndarray, size: int = 8) -> np.ndarray:
    """Nearest-neighbor resize to (size, size, C) — pure index arithmetic."""
    h, w = img.shape[:2]
    yi = np.minimum(np.arange(size) * h // size, h - 1)
    xi = np.minimum(np.arange(size) * w // size, w - 1)
    return img[yi][:, xi]


def image_features(img: np.ndarray, thumb: int = 8) -> tuple[int, int, int, list, int]:
    """(width, height, channels, thumb features, ahash): the 64-float
    grayscale thumbnail doubles as an embedding for the similarity/near-dup
    operators; ahash is the classic average-hash bit fingerprint."""
    t = resize_nearest(img, thumb).astype(np.float64)
    gray = t.mean(axis=2)
    feat = (gray / 255.0).reshape(-1)
    bits = (gray > gray.mean()).reshape(-1)
    # ahash contract: the bit string folded into 64 bits (shift wraps mod
    # 2^64 so thumb > 8 cannot overflow the LongType column; thumb = 8 is
    # the canonical full-fidelity hash) — round-5 review finding.
    # thumb == 8 (64 bits) folds via packbits (MSB-first per byte — the
    # same v = (v << 1) | b order) instead of a 64-step Python loop.
    if bits.size == 64:
        v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    else:
        mask = (1 << 64) - 1
        v = 0
        for b in bits:
            v = ((v << 1) | int(b)) & mask
    if v >= 1 << 63:
        v -= 1 << 64
    return img.shape[1], img.shape[0], img.shape[2], feat.tolist(), v


def decode_wav_pcm16(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode PCM-16 WAV bytes -> (sample_rate, (n, channels) int16 array).
    stdlib `wave` + numpy only."""
    with wave.open(io.BytesIO(payload)) as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only PCM-16 supported")
        sr = wf.getframerate()
        if sr <= 0:
            # stdlib wave does not validate the fmt chunk; a zero sample
            # rate must fail the decode contract (ValueError routes through
            # on_unsupported), not ZeroDivisionError the whole task
            raise ValueError(f"invalid WAV sample rate {sr}")
        ch = wf.getnchannels()
        raw = wf.readframes(wf.getnframes())
    return sr, np.frombuffer(raw, dtype="<i2").reshape(-1, ch)


def audio_features(sr: int, samples: np.ndarray, bins: int = 32
                   ) -> tuple[float, float, float, list]:
    """(duration_ms, rms, zero_crossing_rate, amplitude-histogram feature)."""
    x = samples.astype(np.float64).mean(axis=1) / 32768.0
    n = len(x)
    dur = n / sr * 1000.0
    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
    hist, _ = np.histogram(np.abs(x), bins=bins, range=(0.0, 1.0))
    feat = (hist / max(n, 1)).astype(np.float64)
    return dur, rms, zcr, feat.tolist()


DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("mime", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("zcr", DoubleType()),
    StructField("ahash", LongType()),
    StructField("feat", ArrayType(FloatType())),
])

_REAL_IMAGE_MIMES = {"image/x-portable-pixmap", "image/ppm"}
_REAL_AUDIO_MIMES = {"audio/wav", "audio/x-wav", "audio/wave"}


def decode_media(media: DataFrame, on_unsupported: str = "error") -> DataFrame:
    """Real decode + feature extraction over binary payloads (mapInPandas,
    Arrow batches). PPM images and PCM-16 WAV decode for real; other mimes
    follow `on_unsupported`: 'error' raises NotImplementedError (the honest
    stub for codec formats whose libs this container lacks), 'fake'
    substitutes the deterministic checksum decoder, 'skip' drops the row.

    The `feat` column is a fixed-dim float vector (64-d gray thumbnail for
    images, 32-bin amplitude histogram for audio) directly consumable by
    operators.similarity (cosine top-k / LSH / near-dup)."""
    if on_unsupported not in ("error", "fake", "skip"):
        raise ValueError(f"on_unsupported={on_unsupported!r}")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "kind", "mime", "n_bytes", "width", "height",
                "duration_ms", "rms", "zcr", "ahash", "feat"]
        for pdf in batches:
            # column accumulators (a list-of-tuples pd.DataFrame pays
            # per-row inference; dict-of-lists assembles columnar — round 6)
            acc: dict[str, list] = {c: [] for c in cols}

            def emit(mid, kind, mime, nb, w, h, dur, rms, zcr, ahash, feat):
                acc["media_id"].append(mid); acc["kind"].append(kind)
                acc["mime"].append(mime); acc["n_bytes"].append(nb)
                acc["width"].append(w); acc["height"].append(h)
                acc["duration_ms"].append(dur); acc["rms"].append(rms)
                acc["zcr"].append(zcr); acc["ahash"].append(ahash)
                acc["feat"].append(feat)

            for mid, kind, mime0, pl in zip(
                    pdf["media_id"], pdf["kind"], pdf["mime"], pdf["payload"]):
                payload = bytes(pl) if pl is not None else b""
                mime = mime0 or ""
                if mime in _REAL_IMAGE_MIMES:
                    w, h, _c, feat, ahash = image_features(decode_ppm(payload))
                    emit(mid, kind, mime, len(payload), w, h,
                         None, None, None, ahash, feat)
                elif mime in _REAL_AUDIO_MIMES:
                    sr, samples = decode_wav_pcm16(payload)
                    dur, rms, zcr, feat = audio_features(sr, samples)
                    emit(mid, kind, mime, len(payload), None, None,
                         dur, rms, zcr, None, feat)
                elif on_unsupported == "fake":
                    checksum, feat_dim, feature_hash = _fake_decode(payload)
                    emit(mid, kind, mime, len(payload), None, None,
                         None, None, None, feature_hash, [0.0] * feat_dim)
                elif on_unsupported == "skip":
                    continue
                else:
                    raise NotImplementedError(
                        f"no decoder for mime {mime!r} in this container "
                        f"(PPM/WAV decode for real; JPEG/PNG/MP3/MP4 need "
                        f"libs that are not installed)"
                    )
            if not acc["media_id"]:
                # an all-skipped batch must not yield: pd.DataFrame from
                # empty lists types every column float64, and Arrow cannot
                # cast an empty float64 ndarray to list<float> (feat)
                continue
            out = pd.DataFrame(acc, columns=cols)
            # mixed int/None columns make pandas infer float64, which
            # silently truncates 64-bit hashes to the 53-bit mantissa —
            # force the nullable integer dtype (caught by the media gate)
            out["ahash"] = pd.array(acc["ahash"], dtype="Int64")
            yield out

    cols = media.select("media_id", "kind", "mime", "payload")
    return cols.mapInPandas(worker_kernel(_decode), DECODED_SCHEMA)


# far above any plausible doc_id (2^40): at 1e6 the synth audio id of doc
# k collided with the image id of doc k+1e6 once corpora pass a million
# docs, conflating kinds in any media_id join (round-5 review finding)
AUDIO_ID_OFFSET = 1 << 40
_SYNTH_SR = 8000  # Hz
_SYNTH_N = 16     # md5 digest length drives both pixel and sample counts


def synth_media_from_ids(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic media table from an id column: per id, one REAL 4×4 P6
    PPM image (pixel i has all three channels = md5(str(id)) byte i) and one
    REAL PCM-16 mono WAV (sample i = (md5_byte_i - 128) * 256 at 8 kHz).
    Image rows keep media_id = id; audio rows get id + AUDIO_ID_OFFSET.

    Because every payload byte is a pure function of md5(str(id)) — which
    Spark, DuckDB and Python compute identically — the features that
    decode_media extracts (ahash, RMS, ZCR, dims, durations) are exactly
    re-derivable from md5 hex in SQL, WITHOUT decoding any binary: the
    correctness oracle for the media pipeline. The construction keeps the
    feature math exact in float64 (equal RGB channels → integer grays;
    samples are multiples of 256 → squared normalized samples are multiples
    of 2^-14, so sums are order-independent), making the gate bit-stable."""

    # WAV container bytes for 16 mono PCM-16 frames at _SYNTH_SR are
    # constant except the sample payload: write ONE reference file via the
    # stdlib wave module (byte-identical by construction) and reuse its
    # header for every row instead of re-running wave.open per id.
    _buf = io.BytesIO()
    with wave.open(_buf, "wb") as _wf:
        _wf.setnchannels(1)
        _wf.setsampwidth(2)
        _wf.setframerate(_SYNTH_SR)
        _wf.writeframes(b"\x00" * (2 * _SYNTH_N))
    wav_header = _buf.getvalue()[: -2 * _SYNTH_N]
    ppm_header = b"P6\n4 4\n255\n"
    dur_ms = int(_SYNTH_N * 1000 / _SYNTH_SR)

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        names = [f.name for f in MEDIA_SCHEMA]
        for pdf in batches:
            ids_int = [int(v) for v in pdf[id_col]]
            n = len(ids_int)
            if not n:
                continue
            M = np.stack([
                np.frombuffer(md5(str(i).encode()).digest(), dtype=np.uint8)
                for i in ids_int
            ])
            R = np.repeat(M, 3, axis=1)                       # (n, 48) raster
            S = ((M.astype(np.int32) - 128) * 256).astype("<i2")  # (n, 16)
            media_id = np.empty(2 * n, dtype=np.int64)
            media_id[0::2] = ids_int
            media_id[1::2] = np.asarray(ids_int) + AUDIO_ID_OFFSET
            payload: list = [None] * (2 * n)
            payload[0::2] = [ppm_header + R[j].tobytes() for j in range(n)]
            payload[1::2] = [wav_header + S[j].tobytes() for j in range(n)]
            out = pd.DataFrame({
                "media_id": media_id,
                "kind": np.tile(np.asarray(["image", "audio"], dtype=object), n),
                "mime": np.tile(
                    np.asarray(["image/ppm", "audio/wav"], dtype=object), n),
                "payload": payload,
                "width": pd.array([4, None] * n, dtype="Int32"),
                "height": pd.array([4, None] * n, dtype="Int32"),
                "duration_ms": pd.array([None, dur_ms] * n, dtype="Int32"),
            }, columns=names)
            yield out

    # a single-file id scan would run the whole synth+decode chain in one
    # task (documents.parquet is one split even at sf1.0) — re-spread to
    # the session's shuffle width first (guide §2.5 input skew; same
    # policy as the dedup family's _ensure_parallelism)
    from .operators.dedup import _ensure_parallelism

    return _ensure_parallelism(ids.select(id_col)).mapInPandas(
        worker_kernel(_synth), MEDIA_SCHEMA)
