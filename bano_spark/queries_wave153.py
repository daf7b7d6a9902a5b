"""Wave-153 driver queries: the REAL multimodal decode path,
oracle-checked in-container (VERDICT r4 item 4). Fixtures encode
genuine PNG / PCM-WAV bytes with the stdlib encoders
(operators/multimodal.encode_png / encode_wav_pcm16 — zlib+struct and
the `wave` module), then `image_features(fake=False)` /
`audio_features(fake=False)` run the real decoder tier (Pillow /
soundfile when importable, else the always-available stdlib parsers).
The oracles recompute every output field CLOSED-FORM from the ids —
they never see the bytes — so a green row proves the encode ->
mapInPandas -> parse -> feature chain end-to-end.

Fixture design keeps every comparison exact:
- PNG id i (events, i % 37 == 0): W = 8 + (i%3)*8, H = 8 +
  ((i//3)%2)*8, RGB two-tone — left half columns value a = i % 96,
  right half b = a + 128. All channels equal, so Rec.601 gray == the
  value; the 8x8 block means are exactly {a, b}; the hash mean is
  a + 64 (integer); bits = right half -> phash literal
  '0f0f0f0f0f0f0f0f'; mean_pixel = (a + 64)/255 (k/255 is never at a
  6-decimal rounding midpoint; 102/255 and 153/255 are exact).
- WAV id i: rate = 8000 + (i%4)*4000, frames = 64 + i%64, mono
  constant int16 sample (i%8)*4096 -> mean_amp = (i%8)/8, an exact
  3-decimal dyadic (round-6 is a no-op on both engines);
  duration_ms = frames*1000 // rate, integer on both engines.

Note the Pillow caveat: when Pillow IS importable the image tier uses
LANCZOS resampling and its phash differs from the block-mean hash, so
`png_decode_features` pins the stdlib tier explicitly (codec plumbing
is the thing under test; tier selection is covered by unit tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.operators.multimodal import (
    IMAGE_FEATURES_SCHEMA, MEDIA_SCHEMA, _stdlib_png_decode,
    _stdlib_wav_decode, audio_features, encode_png, encode_wav_pcm16)
from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(
        "SELECT event_id AS media_id FROM events WHERE event_id % 37 = 0")


def _png_media(ids: DataFrame) -> DataFrame:
    """ids -> real two-tone PNG payload rows (kind='image')."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["media_id"]:
                i = int(i)
                w = 8 + (i % 3) * 8
                h = 8 + ((i // 3) % 2) * 8
                a = i % 96
                img = np.full((h, w, 3), a, dtype=np.uint8)
                img[:, w // 2:, :] = a + 128
                p = encode_png(img)
                rows.append((i, "image", p,
                             {"mime": "image/png", "n_bytes": len(p),
                              "source_url": f"mem://png/{i}"}))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "payload", "meta"])

    return ids.mapInPandas(gen, MEDIA_SCHEMA)


def _wav_media(ids: DataFrame) -> DataFrame:
    """ids -> real PCM-16 WAV payload rows (kind='audio')."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["media_id"]:
                i = int(i)
                rate = 8000 + (i % 4) * 4000
                frames = 64 + i % 64
                samples = np.full(frames, (i % 8) * 4096, dtype=np.int16)
                p = encode_wav_pcm16(samples, rate)
                rows.append((i, "audio", p,
                             {"mime": "audio/wav", "n_bytes": len(p),
                              "source_url": f"mem://wav/{i}"}))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "payload", "meta"])

    return ids.mapInPandas(gen, MEDIA_SCHEMA)


_Q1_ORACLE = """
SELECT event_id AS media_id,
       CAST(8 + (event_id % 3) * 8 AS INTEGER) AS width,
       CAST(8 + ((event_id // 3) % 2) * 8 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       round(CAST(event_id % 96 + 64 AS DOUBLE) / 255.0, 6)
         AS mean_pixel,
       '0f0f0f0f0f0f0f0f' AS phash
FROM events WHERE event_id % 37 = 0
ORDER BY media_id
"""


@register("png_decode_features", _Q1_ORACLE)
def q_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG parse (zlib+struct: IHDR, IDAT inflate, unfilter,
    block phash) inside Arrow batches; oracle is closed-form from the
    ids. Pins the stdlib tier so the output is engine-invariant (when
    Pillow is present its LANCZOS phash would differ — tier selection
    itself is unit-tested)."""
    media = _png_media(_ids(spark, sf_dir))

    def decode(batches):
        for pdf in batches:
            rows = [_stdlib_png_decode(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows, columns=[
                "width", "height", "n_channels", "mean_pixel", "phash"])
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            yield out

    return (media.select("media_id", "payload")
            .mapInPandas(decode, IMAGE_FEATURES_SCHEMA)
            .orderBy("media_id"))


_Q2_ORACLE = """
SELECT event_id AS media_id,
       CAST(8000 + (event_id % 4) * 4000 AS INTEGER) AS sample_rate,
       CAST(64 + event_id % 64 AS BIGINT) AS n_samples,
       CAST((64 + event_id % 64) * 1000
            // (8000 + (event_id % 4) * 4000) AS BIGINT) AS duration_ms,
       CAST(event_id % 8 AS DOUBLE) / 8.0 AS mean_amp
FROM events WHERE event_id % 37 = 0
ORDER BY media_id
"""


@register("wav_decode_features", _Q2_ORACLE)
def q_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM-WAV parse through the production audio_features
    operator with fake=False (soundfile tier when importable, stdlib
    `wave` tier otherwise — int16/32768 normalization is identical,
    so the output is tier-invariant); oracle closed-form from ids."""
    media = _wav_media(_ids(spark, sf_dir))
    return audio_features(media, fake=False).orderBy("media_id")
