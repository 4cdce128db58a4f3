"""ISO BMFF metadata probe (operators/video.py): box-walk rules
(declared-size skipping, largesize, to-end boxes), v0/v1 header
variants, honest frame-decode stub, and the Spark probe pipeline
against the integer skeleton formulas."""

import struct

import numpy as np
import pytest

from aresdb_spark.operators.video import (decode_video_frames,
                                          encode_mp4_skeleton, probe_mp4,
                                          synthetic_mp4_media,
                                          video_probe_stats)
from tests.conftest import count_jobs


def _skeleton(ver):
    return encode_mp4_skeleton(12345, 600, [
        {"id": 1, "handler": b"vide", "width": 320, "height": 240,
         "duration_units": 12345},
        {"id": 2, "handler": b"soun", "duration_units": 12345},
    ], version=ver)


@pytest.mark.parametrize("ver", [0, 1])
def test_probe_reads_mvhd_tkhd_hdlr(ver):
    m = probe_mp4(_skeleton(ver))
    assert m["brand"] == "isom"
    assert m["timescale"] == 600 and m["duration_units"] == 12345
    assert m["duration_ms"] == 12345 * 1000 // 600
    assert [t["handler"] for t in m["tracks"]] == ["vide", "soun"]
    v = m["tracks"][0]
    assert (v["id"], v["width"], v["height"]) == (1, 320, 240)


def test_unknown_boxes_skip_and_largesize_parses():
    b = _skeleton(0)
    # prepend an unknown box before moov
    i = b.find(b"moov") - 4
    junk = struct.pack(">I", 16) + b"free" + b"\x00" * 8
    b2 = b[:i] + junk + b[i:]
    assert probe_mp4(b2)["duration_units"] == 12345
    # rewrite moov as a 64-bit largesize box
    (size,) = struct.unpack(">I", b[i:i + 4])
    big = b[:i] + struct.pack(">I", 1) + b"moov" \
        + struct.pack(">Q", size + 8) + b[i + 8:i + size] + b[i + size:]
    assert probe_mp4(big)["tracks"][0]["width"] == 320


def test_malformed_and_stub_paths():
    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x01short")
    b = bytearray(_skeleton(0))
    b[0:4] = struct.pack(">I", 3)            # box size < 8
    with pytest.raises(ValueError, match="bad box size"):
        probe_mp4(bytes(b))
    # ftyp-only payload: no moov
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    with pytest.raises(ValueError, match="moov"):
        probe_mp4(ftyp)
    # a metadata skeleton has no sample tables — frame decode cannot
    # locate samples (r11: no longer a blanket stub; MJPEG decodes)
    with pytest.raises(ValueError, match="sample tables"):
        decode_video_frames(_skeleton(0))


def test_video_probe_stats_matches_formula(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 24).select(F.col("id").alias("media_id"))
    stats = {r["media_id"]: r.asDict()
             for r in video_probe_stats(synthetic_mp4_media(ids)).collect()}
    assert len(stats) == 24
    for d in range(24):
        s = stats[d]
        ts = 600 * (1 + d % 2)
        dur = 600 + (d * 37) % 100000
        assert s["brand"] == "isom"
        assert s["timescale"] == ts
        assert s["duration_ms"] == dur * 1000 // ts
        assert s["n_tracks"] == 1 + d % 2
        assert s["video_width"] == 16 * (1 + d % 20)
        assert s["video_height"] == 16 * (1 + d % 15)


def _const_jpeg_frames(fvals, wb, hb):
    import numpy as np

    from aresdb_spark.operators.jpeg import encode_jpeg
    imgs, payloads = [], []
    for base in fvals:
        vals = np.array([[(base + bx * 37 + by * 53) % 256
                          for bx in range(wb)] for by in range(hb)],
                        np.uint8)
        img = np.kron(vals, np.ones((8, 8), np.uint8))
        imgs.append(img)
        payloads.append(encode_jpeg(img))
    return imgs, payloads


@pytest.mark.parametrize("n_chunks", [1, 2, 3])
def test_mjpeg_frames_roundtrip_across_chunk_layouts(n_chunks):
    """r11 (VERDICT r10 directive 1): 'jpeg'-sample-coded tracks decode
    through the real sample tables — stsc run expansion + stco offsets
    slice each sample from mdat into the in-repo T.81 decoder. Every
    chunk layout (1 chunk, even split, uneven runs) must yield the same
    frames in sample order."""
    import numpy as np

    from aresdb_spark.operators.video import encode_mp4_mjpeg

    imgs, payloads = _const_jpeg_frames([5, 34, 63, 92, 121], 3, 2)
    mp4 = encode_mp4_mjpeg(payloads, 24, 16, n_chunks=n_chunks)
    out = decode_video_frames(mp4)
    assert len(out) == 5
    for o, e in zip(out, imgs):
        assert o.dtype == np.uint8 and (o == e).all()
    # the probe still reads the container metadata of the same payload
    m = probe_mp4(mp4)
    assert m["tracks"][0]["handler"] == "vide"
    assert (m["tracks"][0]["width"], m["tracks"][0]["height"]) == (24, 16)


def test_mjpeg_co64_and_fixed_size_tables():
    """64-bit chunk offsets (co64) and fixed-size stsz both parse: build
    them by patching a 1-chunk file (equal-size frames make stsz's
    fixed form legal)."""
    from aresdb_spark.operators.video import encode_mp4_mjpeg

    imgs, payloads = _const_jpeg_frames([10, 10, 10], 2, 1)
    assert len({len(p) for p in payloads}) == 1      # equal-size samples
    mp4 = bytearray(encode_mp4_mjpeg(payloads, 16, 8, n_chunks=1))

    # stco -> co64: widen the one offset to 64-bit (box grows by 4;
    # patch every ancestor box size on the path down to stco)
    i = bytes(mp4).find(b"stco") - 4
    (stco_size,) = struct.unpack(">I", mp4[i:i + 4])
    (off,) = struct.unpack(">I", mp4[i + 16:i + 20])   # after verflags+count
    co64 = struct.pack(">I", stco_size + 4) + b"co64" \
        + mp4[i + 8:i + 12] + struct.pack(">IQ", 1, off + 4)
    for anc in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = bytes(mp4).find(anc) - 4
        (s,) = struct.unpack(">I", mp4[j:j + 4])
        mp4[j:j + 4] = struct.pack(">I", s + 4)
    mp4 = mp4[:i] + co64 + mp4[i + stco_size:]

    # stsz -> fixed-size form: sample_size = len, keep count, drop table
    k = bytes(mp4).find(b"stsz") - 4
    (stsz_size,) = struct.unpack(">I", mp4[k:k + 4])
    fixed = struct.pack(">I", 20) + b"stsz" + mp4[k + 8:k + 12] \
        + struct.pack(">II", len(payloads[0]), 3)
    shrink = stsz_size - 20
    for anc in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = bytes(mp4).find(anc) - 4
        (s,) = struct.unpack(">I", mp4[j:j + 4])
        mp4[j:j + 4] = struct.pack(">I", s - shrink)
    mp4 = mp4[:k] + fixed + mp4[k + stsz_size:]
    # co64 offset shifted by +4 (box grew before mdat) then -shrink
    m = bytes(mp4).find(b"co64") - 4
    (off64,) = struct.unpack(">Q", mp4[m + 16:m + 24])
    mp4[m + 16:m + 24] = struct.pack(">Q", off64 - shrink)

    out = decode_video_frames(bytes(mp4))
    assert len(out) == 3
    for o, e in zip(out, imgs):
        assert (o == e).all()


def test_mjpeg_inconsistent_tables_and_foreign_codec_raise():
    from aresdb_spark.operators.video import encode_mp4_mjpeg

    _, payloads = _const_jpeg_frames([1, 2], 1, 1)
    mp4 = bytearray(encode_mp4_mjpeg(payloads, 8, 8))
    # non-JPEG sample entry: named NotImplementedError
    i = bytes(mp4).find(b"jpeg", bytes(mp4).find(b"stsd"))
    avc = bytes(mp4[:i] + b"avc1" + mp4[i + 4:])
    with pytest.raises(NotImplementedError, match="avc1"):
        decode_video_frames(avc)
    # stsz count disagreeing with the stsc/stco walk: loud error
    k = bytes(mp4).find(b"stsz") - 4
    bad = bytearray(mp4)
    bad[k + 16:k + 20] = struct.pack(">I", 5)    # claim 5 samples
    with pytest.raises(ValueError):
        decode_video_frames(bytes(bad))
    # sample range beyond EOF
    trunc = bytes(mp4)[:-10]
    with pytest.raises(ValueError):
        decode_video_frames(trunc)


def test_video_frame_stats_matches_formula(spark):
    """The Spark frame-decode pipeline against the synthetic_mjpeg_media
    integer formula — the same invariant the multimodal_video_frames
    contract row hashes against DuckDB."""
    from pyspark.sql import functions as F

    from aresdb_spark.operators.video import (synthetic_mjpeg_media,
                                              video_frame_stats)

    ids = spark.range(0, 18).select(F.col("id").alias("media_id"))
    rows = video_frame_stats(synthetic_mjpeg_media(ids)).collect()
    got = {(r["media_id"], r["frame_idx"]): r.asDict() for r in rows}
    assert len(got) == sum(1 + d % 3 for d in range(18))
    for d in range(18):
        wb, hb = 1 + d % 3, 1 + d % 2
        for f in range(1 + d % 3):
            s = got[(d, f)]
            vals = [(d * 11 + f * 29 + bx * 37 + by * 53) % 256
                    for by in range(hb) for bx in range(wb)]
            assert (s["width"], s["height"]) == (8 * wb, 8 * hb)
            assert s["n_px"] == 64 * wb * hb
            assert s["px_sum"] == 64 * sum(vals)
            assert s["px_min"] == min(vals)
            assert s["px_max"] == max(vals)


def test_video_frame_stats_mixed_codec_layouts(spark):
    """Composition of the r11 surfaces: MJPEG samples mixing grayscale /
    RGB 4:4:4 / RGB 4:2:0 frames decode through the sample tables into
    the formula stats (the multimodal_video_frames_420 contract row's
    invariant)."""
    from pyspark.sql import functions as F

    from aresdb_spark.operators.video import (synthetic_mjpeg_media_mixed,
                                              video_frame_stats)

    ids = spark.range(0, 12).select(F.col("id").alias("media_id"))
    rows = video_frame_stats(synthetic_mjpeg_media_mixed(ids)).collect()
    got = {(r["media_id"], r["frame_idx"]): r.asDict() for r in rows}
    assert len(got) == sum(1 + d % 3 for d in range(12))
    for d in range(12):
        tw, th = 1 + d % 2, 1 + (d // 2) % 2
        for f in range(1 + d % 3):
            s = got[(d, f)]
            ch = 1 if (d + f) % 3 == 0 else 3
            vals = [(d * 17 + f * 29 + bx * 43 + by * 61) % 256
                    for by in range(th) for bx in range(tw)]
            assert (s["width"], s["height"]) == (16 * tw, 16 * th)
            assert s["n_px"] == 256 * ch * len(vals)
            assert s["px_sum"] == 256 * ch * sum(vals)
            assert s["px_min"] == min(vals)
            assert s["px_max"] == max(vals)


# -- stts timing + frame sampling (r11) ---------------------------------------


def test_stts_multi_run_parses_and_full_decode_unchanged():
    """Multi-entry stts runs expand per §8.6.1.2; the full-decode path
    ignores timing and still yields every frame."""
    from aresdb_spark.operators.jpeg import encode_jpeg
    from aresdb_spark.operators.video import (_mjpeg_track,
                                              decode_video_frames,
                                              encode_mp4_mjpeg)

    frames = [encode_jpeg(np.full((8, 8), 10 * f, dtype=np.uint8))
              for f in range(5)]
    durs = [100, 100, 250, 100, 100]     # -> 3 stts runs
    p = encode_mp4_mjpeg(frames, 8, 8, timescale=600, frame_durations=durs)
    tbl = _mjpeg_track(p)
    assert tbl["durations"] == durs and tbl["timescale"] == 600
    out = decode_video_frames(p)
    assert len(out) == 5
    assert all((out[f] == 10 * f).all() for f in range(5))


def test_sample_video_frames_picks_last_started_frame():
    """Targets walk 0, every_ms, ...; each picks the LAST frame whose
    floor-ms presentation start <= target — verified against a
    hand-computed schedule."""
    from aresdb_spark.operators.jpeg import encode_jpeg
    from aresdb_spark.operators.video import (encode_mp4_mjpeg,
                                              sample_video_frames)

    frames = [encode_jpeg(np.full((8, 8), 50 * f, dtype=np.uint8))
              for f in range(3)]
    # starts in units: 0, 150, 350 -> ms (ts 600): 0, 250, 583;
    # duration 600 units = 1000 ms -> targets 0, 400, 800
    p = encode_mp4_mjpeg(frames, 8, 8, timescale=600,
                         frame_durations=[150, 200, 250])
    got = [(t, f, pts, int(px[0, 0]))
           for t, f, pts, px in sample_video_frames(p, 400)]
    assert got == [(0, 0, 0, 0), (400, 1, 250, 50), (800, 2, 583, 100)]


def test_sample_video_frames_decodes_only_chosen_samples():
    """The pruning claim: a sparse sampling of a long track decodes
    exactly the chosen samples, each once."""
    from aresdb_spark.operators import video as V
    from aresdb_spark.operators.jpeg import encode_jpeg

    frames = [encode_jpeg(np.full((8, 8), f, dtype=np.uint8))
              for f in range(30)]
    p = V.encode_mp4_mjpeg(frames, 8, 8, timescale=600,
                           frame_durations=[20] * 30)   # 1000 ms total
    calls = []
    orig = V._decode_sample

    def counted(data, off, size):
        calls.append(off)
        return orig(data, off, size)

    V._decode_sample = counted
    try:
        out = V.sample_video_frames(p, 300)    # targets 0/300/600/900
    finally:
        V._decode_sample = orig
    assert len(out) == 4
    assert len(calls) == 4 and len(set(calls)) == 4
    # and a duplicate-heavy sampling decodes each chosen frame ONCE
    calls.clear()
    V._decode_sample = counted
    try:
        out = V.sample_video_frames(p, 10)     # 100 targets, 30 frames
    finally:
        V._decode_sample = orig
    assert len(out) == 100 and len(calls) == 30


def test_sample_video_frames_timing_required():
    """A track without stts/mdhd timing cannot be time-sampled: named
    ValueError (the full-decode path still works)."""
    from aresdb_spark.operators import video as V
    from aresdb_spark.operators.jpeg import encode_jpeg

    frames = [encode_jpeg(np.zeros((8, 8), np.uint8))]
    p = bytearray(V.encode_mp4_mjpeg(frames, 8, 8))
    i = p.find(b"stts")
    p[i:i + 4] = b"free"                      # hide the stts box
    with pytest.raises(ValueError, match="stts"):
        V.sample_video_frames(bytes(p), 100)
    assert len(V.decode_video_frames(bytes(p))) == 1


def test_video_frame_sample_stats_formula(spark):
    """Spark pass over the timed synthetic tracks: every (target, frame,
    pts, content) row matches the Python replica of the oracle
    formula."""
    from pyspark.sql import functions as F

    from aresdb_spark.operators import video as V

    ids = spark.range(0, 20).select(F.col("id").alias("media_id"))
    rows = V.video_frame_sample_stats(
        V.synthetic_mjpeg_timed_media(ids), every_ms=250).collect()
    got = {(r["media_id"], r["target_ms"]):
           (r["frame_idx"], r["pts_ms"], r["px_sum"]) for r in rows}
    expect = {}
    for d in range(20):
        nf = 2 + d % 4
        durs = [100 + 50 * ((d + f) % 3) for f in range(nf)]
        starts, acc = [], 0
        for u in durs:
            starts.append(acc * 1000 // 600)
            acc += u
        dur_ms = acc * 1000 // 600
        t = 0
        while t < dur_ms or t == 0:
            f = max(i for i in range(nf) if starts[i] <= t)
            expect[(d, t)] = (f, starts[f], 64 * ((d * 23 + f * 47) % 256))
            t += 250
    assert got == expect


# -- AVI container (r12, operators/avi.py) -------------------------------------


def test_avi_mjpeg_and_dib_roundtrip():
    """MJPG chunks decode through the in-repo JPEG codec (block-constant
    frames exact); uncompressed DIB chunks round-trip losslessly with
    the bottom-up BGR row order and 4-byte padding."""
    import numpy as np

    from aresdb_spark.operators.avi import (decode_avi_frames, encode_avi,
                                            probe_avi)
    from aresdb_spark.operators.jpeg import encode_jpeg

    frames_px, jpegs = [], []
    for f in range(3):
        vals = ((f * 29 + np.arange(6).reshape(2, 3) * 37) % 256) \
            .astype(np.uint8)
        px = np.kron(vals, np.ones((8, 8), np.uint8))
        frames_px.append(px)
        jpegs.append(encode_jpeg(px))
    blob = encode_avi(jpegs, 24, 16, fps=10, mjpeg=True)
    meta = probe_avi(blob)
    assert (meta["width"], meta["height"], meta["total_frames"],
            meta["handler"]) == (24, 16, 3, "MJPG")
    assert meta["us_per_frame"] == 100000
    out = decode_avi_frames(blob)
    assert len(out) == 3
    assert all(np.array_equal(a, b) for a, b in zip(out, frames_px))

    rng = np.random.default_rng(15)
    rgb = [rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
           for _ in range(4)]
    out = decode_avi_frames(encode_avi(rgb, 7, 5, fps=5, mjpeg=False))
    assert len(out) == 4
    assert all(np.array_equal(a, b) for a, b in zip(out, rgb))


def test_avi_scope_errors_and_dispatch(spark):
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from aresdb_spark.operators import video as V
    from aresdb_spark.operators.avi import decode_avi_frames, encode_avi
    from aresdb_spark.operators.jpeg import encode_jpeg

    px = np.kron(np.array([[5]], np.uint8), np.ones((8, 8), np.uint8))
    blob = bytearray(encode_avi([encode_jpeg(px)], 8, 8, mjpeg=True))
    for _ in range(2):                           # strh handler + strf fourcc
        i = bytes(blob).find(b"MJPG")
        blob[i:i + 4] = b"cvid"
    with pytest.raises(NotImplementedError, match="cvid"):
        decode_avi_frames(bytes(blob))
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    # decode_video_frames dispatches RIFF/AVI payloads (same contract)
    frames = V.decode_video_frames(
        encode_avi([encode_jpeg(px)], 8, 8, mjpeg=True))
    assert len(frames) == 1 and np.array_equal(frames[0], px)
    # the Spark stats pipeline over the mixed MJPG/DIB corpus
    ids = spark.range(0, 12).select(F.col("id").alias("media_id"))
    rows = V.video_frame_stats(V.synthetic_avi_media(ids)).collect()
    got = {(r["media_id"], r["frame_idx"]) for r in rows}
    want = {(d, f) for d in range(12) for f in range(1 + d % 3)}
    assert got == want
    for r in rows:
        d = r["media_id"]
        ch = 3 if d % 2 == 1 else 1
        assert r["n_px"] == 64 * ch * (1 + d % 3) * (1 + d % 2), d


def test_video_fingerprint_properties():
    """Clip fingerprint is a pure integer function: identical frames
    through gray, equal-RGB, MP4 and AVI representations hash
    identically; frame REORDERING changes the weighted mean (order
    sensitivity); empty clips and mixed shapes raise."""
    import numpy as np
    import pytest

    from aresdb_spark.operators import video as V

    frames = V.near_dup_video_frames(0)
    fp = V.video_fingerprint(frames)
    rgb = [np.stack([f] * 3, axis=2) for f in frames]
    assert V.video_fingerprint(rgb) == fp
    assert V.video_fingerprint(frames[::-1]) != fp
    with pytest.raises(ValueError, match="empty clip"):
        V.video_fingerprint([])
    with pytest.raises(ValueError, match="mixes frame shapes"):
        V.video_fingerprint([frames[0], frames[0][:32]])


def test_video_near_dup_corpus_planted_distances():
    """Planted distances measured over the graded id range: container
    twins at Hamming 0, substituted-frame edits straddling
    max_hamming=7 (some found, some excluded), independent clips
    >= 16 bits apart."""
    import itertools

    from aresdb_spark.operators import video as V

    fps = [V.video_fingerprint(V.near_dup_video_frames(d))
           for d in range(90)]

    def ham(a, b):
        return bin(fps[a] ^ fps[b]).count("1")

    twins, edits = [], []
    for g in range(30):
        (edits if g % 3 == 2 else twins).append(ham(3 * g, 3 * g + 1))
    assert set(twins) == {0}
    assert all(h >= 1 for h in edits)
    assert any(h <= 7 for h in edits) and any(h > 7 for h in edits)
    plant = {(3 * g, 3 * g + 1) for g in range(30)}
    floor = min(ham(a, b)
                for a, b in itertools.combinations(range(90), 2)
                if (a, b) not in plant)
    assert floor >= 16, floor


def test_video_near_duplicates_pipeline_matches_oracle(spark):
    """End-to-end over the mixed MP4/AVI-MJPG/AVI-DIB corpus: the
    banded pipeline reproduces the brute-force all-pairs oracle
    exactly; the self-join plan is free of MapInPandas (fingerprint
    stage localCheckpointed)."""
    from pyspark.sql import functions as F

    from aresdb_spark.operators import video as V

    ids = spark.range(0, 45).select(F.col("id").alias("media_id"))
    media = V.synthetic_near_dup_videos(ids)
    pl = {r["media_id"]: bytes(r["payload"])
          for r in media.filter(F.col("media_id") < 6).collect()}
    assert pl[0][4:8] == b"ftyp" and pl[1][:4] == b"RIFF"
    res = V.video_near_duplicates(media)
    assert "MapInPandas" not in \
        res._jdf.queryExecution().executedPlan().toString()
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in res.collect()}
    assert got == set(V.video_near_dup_oracle_pairs(45))


# Spark jobs that routing the mixed table ran when it scanned the kinds and
# then hashed, checkpointed and joined each modality on its own.
JOBS_PER_MODALITY_ROUTING = 12


def _mixed_media(spark):
    """The three synthetic near-dup corpora interleaved over one id
    range as a (media_id, kind, payload) table."""
    from pyspark.sql import functions as F

    from aresdb_spark.operators import audio as A
    from aresdb_spark.operators import multimodal as M
    from aresdb_spark.operators import video as V

    ids = spark.range(0, 18).select(F.col("id").alias("media_id"))
    return (
        M.synthetic_near_dup_images(ids)
        .select("media_id", F.lit("image").alias("kind"), "payload")
        .unionByName(A.synthetic_near_dup_audio(ids)
                     .select("media_id", F.lit("audio").alias("kind"),
                             "payload"))
        .unionByName(V.synthetic_near_dup_videos(ids)
                     .select("media_id", F.lit("video").alias("kind"),
                             "payload")))


def test_media_near_duplicates_cross_modality_routing(spark):
    """The mixed-media dispatcher routes by kind, pairs form only
    WITHIN a modality, and each modality reproduces its own
    brute-force oracle; unknown kinds raise."""
    import pytest
    from pyspark.sql import functions as F

    from aresdb_spark.operators import audio as A
    from aresdb_spark.operators import multimodal as M
    from aresdb_spark.operators import video as V

    media = _mixed_media(spark)
    got = {(r["kind"], r["id_a"], r["id_b"], r["hamming"])
           for r in M.media_near_duplicates(media).collect()}
    want = {("image", a, b, h)
            for a, b, h in M.image_near_dup_oracle_pairs(18)} \
        | {("audio", a, b, h)
           for a, b, h in A.audio_near_dup_oracle_pairs(18)} \
        | {("video", a, b, h)
           for a, b, h in V.video_near_dup_oracle_pairs(18)}
    assert got == want
    with pytest.raises(ValueError, match="unknown media kinds"):
        M.media_near_duplicates(
            media.withColumn("kind", F.lit("hologram"))).collect()
    with pytest.raises(ValueError, match=r"unknown media kinds \[None\]"):
        M.media_near_duplicates(
            media.withColumn("kind", F.lit(None).cast("string")))
    with pytest.raises(ValueError, match="empty media table"):
        M.media_near_duplicates(media.limit(0))


def test_media_near_duplicates_decodes_in_one_pass(spark, monkeypatch):
    """ONE mapInPandas hashes every kind of the mixed table: the plans
    that media_near_duplicates materializes hold exactly one MapInPandas
    between them (one per modality before), and the pair join reads the
    materialized hashes, not the decoder."""
    from aresdb_spark.operators import multimodal as M

    media = _mixed_media(spark).localCheckpoint(eager=True)
    plans = []
    cls = type(media)
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    pairs = M.media_near_duplicates(media)
    assert sum(p.count("MapInPandas") for p in plans) == 1
    assert "MapInPandas" not in \
        pairs._jdf.queryExecution().executedPlan().toString()


def test_media_near_duplicates_job_count(spark):
    """Routing the mixed table and collecting its pairs runs one hashing
    job and one banded join: fewer Spark jobs than a kinds scan plus one
    hashing job and one join per modality (JOBS_PER_MODALITY_ROUTING)."""
    from aresdb_spark.operators import multimodal as M

    media = _mixed_media(spark).localCheckpoint(eager=True)
    jobs = count_jobs(spark, lambda: M.media_near_duplicates(media).collect())
    assert jobs < JOBS_PER_MODALITY_ROUTING
