"""The media tier's one per-row map (operators.util.map_rows): every
media operator and synthetic payload generator keeps its output schema
and plans exactly one MapInPandas node; the helper carries 64-bit
values and NULLs exactly; resize_media re-encodes at the samples' own
depth."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aresdb_spark.operators import audio as A
from aresdb_spark.operators import gif as G
from aresdb_spark.operators import multimodal as M
from aresdb_spark.operators import video as V
from aresdb_spark.operators import webp as W

PAYLOADS = "media_id bigint NOT NULL, payload binary NOT NULL"
GENERATORS = [
    M.synthetic_png_media, M.synthetic_png_media_mixed,
    M.synthetic_bmp_media, M.synthetic_pnm_media, M.synthetic_ico_media,
    M.synthetic_webp_media, M.synthetic_gif_media, M.synthetic_tiff_media,
    M.synthetic_tiff_tiled_media, M.synthetic_jpeg_media,
    M.synthetic_jpeg_lossless_media, M.synthetic_jpeg_media_mixed,
    M.synthetic_near_dup_images,
    A.synthetic_au_media, A.synthetic_flac_media, A.synthetic_wav_media,
    A.synthetic_float_wav_media, A.synthetic_adpcm_wav_media,
    A.synthetic_aiff_media, A.synthetic_g711_wav_media,
    A.synthetic_msadpcm_wav_media, A.synthetic_near_dup_audio,
    V.synthetic_avi_media, V.synthetic_mjpeg_timed_media,
    V.synthetic_mjpeg_media, V.synthetic_mjpeg_media_mixed,
    V.synthetic_mp4_media, V.synthetic_near_dup_videos,
    W.synthetic_webp_anim_media, W.synthetic_webp_alpha_media,
    W.synthetic_webp_probe_media, G.synthetic_gif_anim_media,
]
# operator → its output schema (name, type, NOT NULL where the column
# cannot be NULL)
OPERATORS = {
    M.featurize: "media_id bigint NOT NULL, features array<float> NOT NULL,"
                 " feat_norm double NOT NULL",
    M.decode_stats: "media_id bigint NOT NULL, width bigint NOT NULL,"
                    " height bigint NOT NULL, channels bigint NOT NULL,"
                    " n_px bigint NOT NULL, px_sum bigint NOT NULL,"
                    " px_min bigint NOT NULL, px_max bigint NOT NULL",
    (lambda df: M.resize_media(df, 4, 4)): PAYLOADS,
    M.media_hashes: "kind string, media_id bigint NOT NULL, h bigint",
    A.audio_stats: "media_id bigint NOT NULL, n_samples bigint NOT NULL,"
                   " channels bigint NOT NULL, sample_rate bigint NOT NULL,"
                   " duration_ms bigint NOT NULL, amp_sum bigint NOT NULL,"
                   " amp_min bigint NOT NULL, amp_max bigint NOT NULL,"
                   " abs_sum bigint NOT NULL",
    A.audio_window_stats: "media_id bigint NOT NULL, win_idx bigint NOT"
                          " NULL, n bigint NOT NULL, amp_sum bigint NOT"
                          " NULL, abs_sum bigint NOT NULL, amp_min bigint"
                          " NOT NULL, amp_max bigint NOT NULL, zero_cross"
                          " bigint NOT NULL",
    V.video_probe_stats: "media_id bigint NOT NULL, brand string NOT NULL,"
                         " timescale bigint NOT NULL, duration_ms bigint"
                         " NOT NULL, n_tracks bigint NOT NULL, video_width"
                         " bigint, video_height bigint",
    V.video_frame_stats: "media_id bigint NOT NULL, frame_idx bigint NOT"
                         " NULL, width bigint NOT NULL, height bigint NOT"
                         " NULL, n_px bigint NOT NULL, px_sum bigint NOT"
                         " NULL, px_min bigint NOT NULL, px_max bigint NOT"
                         " NULL",
    V.video_frame_sample_stats: "media_id bigint NOT NULL, target_ms bigint"
                                " NOT NULL, frame_idx bigint NOT NULL,"
                                " pts_ms bigint NOT NULL, width bigint NOT"
                                " NULL, height bigint NOT NULL, px_sum"
                                " bigint NOT NULL",
    W.webp_anim_stats: "media_id bigint NOT NULL, n_frames int NOT NULL,"
                       " loop_count int NOT NULL, width int NOT NULL,"
                       " height int NOT NULL, dur_total bigint NOT NULL,"
                       " px_sum bigint NOT NULL",
    W.webp_alpha_stats: "media_id bigint NOT NULL, width int NOT NULL,"
                        " height int NOT NULL, a_sum bigint NOT NULL,"
                        " a_min int NOT NULL, a_max int NOT NULL",
    W.webp_probe_stats: "media_id bigint NOT NULL, kind string NOT NULL,"
                        " width int NOT NULL, height int NOT NULL,"
                        " has_alpha int NOT NULL",
    G.gif_anim_stats: "media_id bigint NOT NULL, n_frames int NOT NULL,"
                      " width int NOT NULL, height int NOT NULL,"
                      " delay_total_cs bigint NOT NULL, px_sum bigint NOT"
                      " NULL",
}
CASES = [pytest.param(g, PAYLOADS, id=g.__name__) for g in GENERATORS] + [
    pytest.param(op, want, id="resize_media" if op.__name__ == "<lambda>"
                 else op.__name__) for op, want in OPERATORS.items()]


def _shape(df) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     + ("" if f.nullable else " NOT NULL")
                     for f in df.schema.fields)


@pytest.mark.parametrize("build, want", CASES)
def test_media_map_schema_and_one_map_node(spark, build, want):
    """All 45 functions: the output schema is the literal above and the
    plan holds exactly one MapInPandas node, under which the input is
    pruned to the columns the row reads (``mime`` never crosses)."""
    if build in GENERATORS:
        src = spark.range(3).select(F.col("id").alias("media_id"),
                                    F.lit("x").alias("mime"))
    else:
        src = spark.createDataFrame(
            [], "media_id bigint, kind string, payload binary, mime string")
    df = build(src)
    assert _shape(df) == want
    if "features" in df.columns:
        assert df.schema["features"].dataType.containsNull
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    node = next(ln for ln in plan.splitlines() if "MapInPandas" in ln)
    assert "mime" not in node, plan       # the UDF's argument list


def test_map_rows_carries_64_bit_values_and_nulls_exactly(spark):
    """A BIGINT value in [2^63, 2^64) arrives as its two's complement
    (a 64-bit hash with bit 63 set), a value past 2^53 arrives exact
    (no float64 detour) and a None is a NULL, in a batch that mixes
    all three."""
    from aresdb_spark.operators.util import map_rows

    big = [(1 << 64) - 1, 1 << 63, (1 << 62) + 1, None, 7]

    def row(i):
        return [(i, big[i])] if i < len(big) else []

    got = map_rows(spark.range(0, 8, numPartitions=1), ["id"],
                   "id BIGINT NOT NULL, h BIGINT", row).collect()
    assert sorted((r["id"], r["h"]) for r in got) == [
        (0, -1), (1, -(1 << 63)), (2, (1 << 62) + 1), (3, None), (4, 7)]


def test_resize_media_keeps_16_bit_samples(spark):
    """16-bit PNG and 16-bit TIFF inputs resize nearest and re-encode as
    16-bit PNG: the decoded output holds the sampled values exactly
    (the 8-bit re-encode wrapped them modulo 256)."""
    from aresdb_spark.operators.tiff import encode_tiff

    gray = np.array([[0, 1, 8000, 2], [3, 4, 5, 6],
                     [32000, 7, 40000, 9], [10, 11, 12, 65535]], np.uint16)
    rgb = (np.arange(4 * 4 * 3, dtype=np.uint16) * 1361).reshape(4, 4, 3)
    media = spark.createDataFrame(
        [(0, M.encode_png(gray, depth=16)),
         (1, encode_tiff(gray, bits=16)),
         (2, encode_tiff(rgb, bits=16))], "media_id long, payload binary")
    out = {r["media_id"]: M.decode_png(bytes(r["payload"]))
           for r in M.resize_media(media, 2, 2).collect()}
    assert out[0].dtype == np.uint16
    assert out[0].tolist() == [[0, 8000], [32000, 40000]]
    assert out[1].tolist() == [[0, 8000], [32000, 40000]]
    assert out[2].tolist() == rgb[::2, ::2].tolist()

