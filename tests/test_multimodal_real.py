"""Real (library-free) multimodal decode: PPM images and PCM-16 WAV audio
decoded inside mapInPandas, feature vectors feeding the similarity
operators; unsupported codecs stay honestly stubbed."""

import io
import wave

import numpy as np
import pandas as pd
import pytest

from quad_processor_util_spark.multimodal import (
    audio_features,
    decode_media,
    decode_ppm,
    decode_wav_pcm16,
    image_features,
    resize_nearest,
)


def encode_ppm(img: np.ndarray) -> bytes:
    """Inverse of decode_ppm: a binary P6 PPM with maxval 255."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def _gradient_img(h=32, w=48, shift=0):
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(x * 255 // max(w - 1, 1) + shift) % 256,
         (y * 255 // max(h - 1, 1)) % 256,
         ((x + y) % 256)], axis=2
    ).astype(np.uint8)
    return img


def _wav_bytes(freq=440.0, sr=8000, ms=250, ch=1):
    t = np.arange(int(sr * ms / 1000)) / sr
    x = (np.sin(2 * np.pi * freq * t) * 12000).astype("<i2")
    x = np.repeat(x[:, None], ch, axis=1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(ch)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(x.tobytes())
    return buf.getvalue()


class TestPureDecoders:
    def test_ppm_roundtrip(self):
        img = _gradient_img()
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)

    def test_ppm_comments_in_header(self):
        img = _gradient_img(4, 5)
        raw = b"P6\n# a comment\n5 4\n# another\n255\n" + img.tobytes()
        assert np.array_equal(decode_ppm(raw), img)

    def test_resize_nearest_shape(self):
        img = _gradient_img(33, 47)
        assert resize_nearest(img, 8).shape == (8, 8, 3)

    def test_wav_roundtrip(self):
        raw = _wav_bytes(freq=220.0, sr=4000, ms=100, ch=2)
        sr, samples = decode_wav_pcm16(raw)
        assert sr == 4000 and samples.shape == (400, 2)
        dur, rms, zcr, feat = audio_features(sr, samples)
        assert abs(dur - 100.0) < 1e-9
        # sine at amplitude 12000/32768 -> rms ~ 0.366/sqrt(2)
        assert abs(rms - (12000 / 32768) / np.sqrt(2)) < 0.01
        assert len(feat) == 32 and abs(sum(feat) - 1.0) < 1e-9


class TestSparkDecode:
    def _media_df(self, spark):
        img_a = _gradient_img()
        img_b = _gradient_img(shift=3)    # near-duplicate of a
        img_c = _gradient_img()[::-1].copy()  # flipped: distinct
        pdf = pd.DataFrame({
            "media_id": [1, 2, 3, 4, 5],
            "kind": ["image", "image", "image", "audio", "video"],
            "mime": ["image/x-portable-pixmap"] * 3 + ["audio/wav", "video/mp4"],
            "payload": [encode_ppm(img_a), encode_ppm(img_b),
                        encode_ppm(img_c), _wav_bytes(), b"\x00\x00ftyp"],
        })
        return spark.createDataFrame(pdf), img_a

    def test_real_decode_matches_local(self, spark):
        df, img_a = self._media_df(spark)
        out = {r.media_id: r for r in
               decode_media(df, on_unsupported="skip").collect()}
        assert set(out) == {1, 2, 3, 4}  # video skipped
        w, h, _c, feat, ahash = image_features(img_a)
        assert (out[1].width, out[1].height) == (w, h)
        assert out[1].ahash == ahash
        assert np.allclose(out[1].feat, feat, atol=1e-6)
        assert out[4].duration_ms == pytest.approx(250.0)
        assert out[4].rms == pytest.approx((12000 / 32768) / np.sqrt(2), abs=0.01)

    def test_near_dup_images_via_similarity_ops(self, spark):
        """Image thumbnails ARE embeddings: the near-dup pair (1,2) falls out
        of the embedding-cosine operator; the flipped image does not pair."""
        from quad_processor_util_spark.operators.similarity import (
            embedding_cosine_dedup_pairs,
        )

        df, _ = self._media_df(spark)
        feats = (
            decode_media(df, on_unsupported="skip")
            .where("kind = 'image'")
            .selectExpr("media_id AS vec_id", "feat AS embedding")
        )
        pairs = embedding_cosine_dedup_pairs(
            feats, dim=64, threshold=0.995, planes=4, tables=8
        ).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}

    def test_unsupported_error_and_fake(self, spark):
        df, _ = self._media_df(spark)
        with pytest.raises(Exception, match="no decoder"):
            decode_media(df, on_unsupported="error").collect()
        out = decode_media(df, on_unsupported="fake").collect()
        assert len(out) == 5  # stub keeps the row, contract intact
