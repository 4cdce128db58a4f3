"""Clean-room ISO BMFF (MP4) metadata probe + MJPEG-class frame decode.

The MP4 *container* is a self-contained public spec (ISO/IEC 14496-12:
length-prefixed boxes), so track/duration metadata parses FOR REAL
without any codec library — which is exactly what a training-data
pipeline needs from video at scan time: duration/track/dimension
filters and frame-sampling plans prune BEFORE any (expensive, GPU-class)
frame decode.

Frame decode (r11, VERDICT r10 directive 1): tracks whose stsd sample
entry is ``'jpeg'`` (motion-JPEG-in-MP4 — every sample is a standalone
baseline JPEG image) now decode FOR REAL: the sample tables
(stsd/stts/stsc/stsz/stco|co64, ISO/IEC 14496-12 §8.5-8.7) locate each
sample's byte range in mdat, and the in-repo clean-room T.81 codec
(operators/jpeg.py) decodes the pixels. Tracks coded with inter-frame
codecs (avc1/hev1/av01/...) keep the honest NotImplementedError naming
the codec — those genuinely need libavcodec-class decoders the
container doesn't ship.

Scope:
  - probe: top-level box walk (32-bit and 64-bit largesize boxes),
    ``ftyp`` brand, ``moov/mvhd`` (version 0 and 1) timescale +
    duration, per-``trak`` ``tkhd`` (v0/v1) track id + width/height
    (16.16 fixed point) and ``mdia/mdhd`` + ``hdlr`` handler type.
    Unknown boxes skip by declared size (the spec's rule).
  - sample tables: general stsc chunk-run expansion (§8.7.4), per-sample
    stsz sizes (§8.7.3), stco and 64-bit co64 chunk offsets (§8.7.5) —
    offsets are absolute file positions per the spec.
  - encode: a skeleton writer (ftyp + moov tree + empty mdat) for probe
    payloads, and an MJPEG writer (real sample tables + JPEG samples in
    mdat, multi-chunk layouts included) for frame-decode payloads —
    parsing is lossless and the JPEG samples are block-constant, so
    integer formulas round-trip bit-for-bit for the oracle rows.
"""

from __future__ import annotations

import struct

import numpy as np

from aresdb_spark.operators.util import map_payloads, map_rows

MP4_BRANDS = (b"isom", b"iso2", b"mp41", b"mp42", b"avc1", b"M4V ")


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + btype + payload


def _full(btype: bytes, version: int, payload: bytes) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + payload)


def encode_mp4_skeleton(duration_units: int, timescale: int,
                        tracks: "list[dict] | None" = None,
                        version: int = 0) -> bytes:
    """Minimal valid ISO BMFF skeleton: ftyp + moov(mvhd + trak*) +
    empty mdat. ``tracks``: [{"id", "handler" (4 bytes), "width",
    "height", "duration_units"}]. ``version`` 1 writes the 64-bit
    mvhd/tkhd variants (tests the probe's v1 path)."""
    tracks = tracks or []
    if version == 0:
        mvhd = _full(b"mvhd", 0, struct.pack(
            ">IIII", 0, 0, timescale, duration_units)
            + struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10
            + b"\x00" * 36 + b"\x00" * 24
            + struct.pack(">I", len(tracks) + 1))
    else:
        mvhd = _full(b"mvhd", 1, struct.pack(
            ">QQIQ", 0, 0, timescale, duration_units)
            + struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10
            + b"\x00" * 36 + b"\x00" * 24
            + struct.pack(">I", len(tracks) + 1))
    moov = mvhd
    for t in tracks:
        if version == 0:
            tkhd = _full(b"tkhd", 0, struct.pack(
                ">IIIII", 0, 0, t["id"], 0, t.get("duration_units", 0))
                + b"\x00" * 8 + struct.pack(">hhhH", 0, 0, 0, 0)
                + b"\x00" * 36
                + struct.pack(">II", t.get("width", 0) << 16,
                              t.get("height", 0) << 16))
        else:
            tkhd = _full(b"tkhd", 1, struct.pack(
                ">QQIIQ", 0, 0, t["id"], 0, t.get("duration_units", 0))
                + b"\x00" * 8 + struct.pack(">hhhH", 0, 0, 0, 0)
                + b"\x00" * 36
                + struct.pack(">II", t.get("width", 0) << 16,
                              t.get("height", 0) << 16))
        mdhd = _full(b"mdhd", 0, struct.pack(
            ">IIII", 0, 0, timescale, t.get("duration_units", 0))
            + struct.pack(">HH", 0x55C4, 0))         # language "und"
        hdlr = _full(b"hdlr", 0, struct.pack(">I", 0)
                     + t.get("handler", b"vide") + b"\x00" * 12 + b"\x00")
        mdia = _box(b"mdia", mdhd + hdlr)
        moov += _box(b"trak", tkhd + mdia)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                + b"isom" + b"iso2")
    return ftyp + _box(b"moov", moov) + _box(b"mdat", b"")


def encode_mp4_mjpeg(frames: "list[bytes]", width: int, height: int,
                     timescale: int = 600, frame_duration: int = 100,
                     n_chunks: int = 1,
                     frame_durations: "list[int] | None" = None) -> bytes:
    """Real MJPEG-in-MP4 writer: each ``frames`` element is a complete
    JPEG image stored as one sample; the stbl (stsd 'jpeg' visual sample
    entry, stts, stsc, stsz, stco) locates them in mdat. ``n_chunks``
    splits the samples across mdat chunks so the stsc/stco walk is
    exercised for real (ISO/IEC 14496-12 §8.7.4: chunk runs).
    ``frame_durations`` (r11) gives per-sample display durations in
    timescale units — run-length-compressed into multi-entry stts runs
    (§8.6.1.2) so readers exercise real run expansion; when omitted all
    samples last ``frame_duration``. Built in two passes because stco
    holds ABSOLUTE file offsets: the moov is laid out once with zeroed
    offsets to learn its size, then rebuilt with the real offsets (same
    byte length, so the layout is stable)."""
    n = len(frames)
    if n == 0:
        raise ValueError("MJPEG track needs at least one frame")
    n_chunks = max(1, min(n_chunks, n))
    # split samples into chunks as evenly as possible (front-loaded)
    base, extra = divmod(n, n_chunks)
    counts = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    chunk_frames: list[list[bytes]] = []
    it = iter(frames)
    for c in counts:
        chunk_frames.append([next(it) for _ in range(c)])

    # 'jpeg' visual sample entry (14496-12 §8.5.2 + QuickTime/3GPP
    # registration): 86 bytes
    entry = (struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6
             + struct.pack(">H", 1)              # data_reference_index
             + b"\x00" * 16                      # pre_defined/reserved
             + struct.pack(">HH", width, height)
             + struct.pack(">II", 0x00480000, 0x00480000)   # 72 dpi
             + struct.pack(">I", 0)
             + struct.pack(">H", 1)              # frame_count
             + b"\x00" * 32                      # compressorname
             + struct.pack(">Hh", 24, -1))       # depth, pre_defined
    stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
    if frame_durations is None:
        frame_durations = [frame_duration] * n
    if len(frame_durations) != n:
        raise ValueError("frame_durations must match frames")
    # run-length compress equal consecutive durations into stts entries
    stts_runs: "list[list[int]]" = []
    for dur_u in frame_durations:
        if stts_runs and stts_runs[-1][1] == dur_u:
            stts_runs[-1][0] += 1
        else:
            stts_runs.append([1, dur_u])
    stts = _full(b"stts", 0, struct.pack(">I", len(stts_runs)) + b"".join(
        struct.pack(">II", c, dur_u) for c, dur_u in stts_runs))
    # stsc runs: one entry per change in samples-per-chunk
    runs = []
    for i, c in enumerate(counts):
        if not runs or runs[-1][1] != c:
            runs.append((i + 1, c))
    stsc = _full(b"stsc", 0, struct.pack(">I", len(runs)) + b"".join(
        struct.pack(">III", first, cnt, 1) for first, cnt in runs))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, n) + b"".join(
        struct.pack(">I", len(f)) for f in frames))
    dur = sum(frame_durations)

    def moov_of(chunk_offsets: "list[int]") -> bytes:
        stco = _full(b"stco", 0,
                     struct.pack(">I", n_chunks) + b"".join(
                         struct.pack(">I", o) for o in chunk_offsets))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        dref = _full(b"dref", 0, struct.pack(">I", 1)
                     + _full(b"url ", 1, b""))   # flag 1: self-contained
        minf = _box(b"minf", _full(b"vmhd", 1, b"\x00" * 8)
                    + _box(b"dinf", dref) + stbl)
        mdhd = _full(b"mdhd", 0, struct.pack(">IIII", 0, 0, timescale, dur)
                     + struct.pack(">HH", 0x55C4, 0))
        hdlr = _full(b"hdlr", 0, struct.pack(">I", 0) + b"vide"
                     + b"\x00" * 12 + b"\x00")
        tkhd = _full(b"tkhd", 0, struct.pack(">IIIII", 0, 0, 1, 0, dur)
                     + b"\x00" * 8 + struct.pack(">hhhH", 0, 0, 0, 0)
                     + b"\x00" * 36
                     + struct.pack(">II", width << 16, height << 16))
        trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
        mvhd = _full(b"mvhd", 0, struct.pack(
            ">IIII", 0, 0, timescale, dur)
            + struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10
            + b"\x00" * 36 + b"\x00" * 24 + struct.pack(">I", 2))
        return _box(b"moov", mvhd + trak)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                + b"isom" + b"iso2")
    probe_moov = moov_of([0] * n_chunks)
    mdat_payload_start = len(ftyp) + len(probe_moov) + 8   # mdat header
    offsets, pos = [], mdat_payload_start
    for cf in chunk_frames:
        offsets.append(pos)
        pos += sum(len(f) for f in cf)
    moov = moov_of(offsets)
    assert len(moov) == len(probe_moov)      # two-pass layout is stable
    mdat = _box(b"mdat", b"".join(frames))
    return ftyp + moov + mdat


def _walk(data: bytes, start: int, end: int):
    """Yield (box type, payload start, payload end); handles 64-bit
    largesize (size == 1) and to-end boxes (size == 0, last box only)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8:pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"bad box size at byte {pos}")
        yield btype, body, pos + size
        pos += size


def probe_mp4(payload: bytes) -> dict:
    """Parse container metadata; raises ValueError for malformed bytes
    and NotImplementedError when asked for what needs a codec."""
    data = bytes(payload)
    if len(data) < 12:
        raise ValueError("not an ISO BMFF payload")
    out: dict = {"brand": None, "timescale": None, "duration_units": None,
                 "tracks": []}
    saw_moov = False
    for btype, body, bend in _walk(data, 0, len(data)):
        if btype == b"ftyp":
            out["brand"] = data[body:body + 4].decode("latin1")
        elif btype == b"moov":
            saw_moov = True
            for ib, ibody, ibend in _walk(data, body, bend):
                if ib == b"mvhd":
                    ver = data[ibody]
                    if ver == 1:
                        _, _, ts, dur = struct.unpack(
                            ">QQIQ", data[ibody + 4:ibody + 32])
                    else:
                        _, _, ts, dur = struct.unpack(
                            ">IIII", data[ibody + 4:ibody + 20])
                    out["timescale"], out["duration_units"] = ts, dur
                elif ib == b"trak":
                    out["tracks"].append(
                        _probe_trak(data, ibody, ibend))
    if not saw_moov or out["timescale"] is None:
        raise ValueError("ISO BMFF missing moov/mvhd")
    out["duration_ms"] = out["duration_units"] * 1000 // out["timescale"]
    return out


def _probe_trak(data: bytes, start: int, end: int) -> dict:
    t: dict = {"id": None, "handler": None, "width": None, "height": None,
               "duration_units": None}
    for btype, body, bend in _walk(data, start, end):
        if btype == b"tkhd":
            ver = data[body]
            if ver == 1:
                tid, _, dur = struct.unpack(
                    ">IIQ", data[body + 20:body + 36])
                geo = body + 36
            else:
                tid, _, dur = struct.unpack(
                    ">III", data[body + 12:body + 24])
                geo = body + 24
            w, h = struct.unpack(">II", data[geo + 52:geo + 60])
            t.update(id=tid, duration_units=dur,
                     width=w >> 16, height=h >> 16)   # 16.16 fixed point
        elif btype == b"mdia":
            for ib, ibody, _ in _walk(data, body, bend):
                if ib == b"hdlr":
                    t["handler"] = data[ibody + 8:ibody + 12] \
                        .decode("latin1")
    return t


def _sample_table(data: bytes, trak_body: int, trak_end: int) -> "dict | None":
    """Parse one trak's sample tables (trak → mdia → minf → stbl):
    returns {"codec", "sizes", "chunk_offsets", "stsc"} or None when the
    trak carries no stbl (e.g. the probe skeletons). stsc entries are
    (first_chunk, samples_per_chunk) with the spec's 1-based chunk
    numbering and run semantics (ISO/IEC 14496-12 §8.7.4)."""
    out: dict = {"codec": None, "sizes": None, "chunk_offsets": None,
                 "stsc": None, "durations": None, "timescale": None}
    for btype, body, bend in _walk(data, trak_body, trak_end):
        if btype != b"mdia":
            continue
        for ib, ibody, ibend in _walk(data, body, bend):
            if ib == b"mdhd":
                # media timescale — the unit of stts deltas (§8.4.2)
                ver = data[ibody]
                out["timescale"] = struct.unpack(
                    ">I", data[ibody + 12:ibody + 16])[0] if ver == 0 \
                    else struct.unpack(">I", data[ibody + 20:ibody + 24])[0]
            if ib != b"minf":
                continue
            for jb, jbody, jbend in _walk(data, ibody, ibend):
                if jb != b"stbl":
                    continue
                for kb, kbody, kbend in _walk(data, jbody, jbend):
                    if kb == b"stsd":
                        (cnt,) = struct.unpack(
                            ">I", data[kbody + 4:kbody + 8])
                        if cnt >= 1:
                            out["codec"] = data[kbody + 12:kbody + 16] \
                                .decode("latin1")
                    elif kb == b"stsz":
                        fixed, n = struct.unpack(
                            ">II", data[kbody + 4:kbody + 12])
                        if fixed:
                            out["sizes"] = [fixed] * n
                        else:
                            out["sizes"] = list(struct.unpack(
                                f">{n}I", data[kbody + 12:kbody + 12 + 4 * n]))
                    elif kb == b"stsc":
                        (n,) = struct.unpack(
                            ">I", data[kbody + 4:kbody + 8])
                        ent = struct.unpack(
                            f">{3 * n}I", data[kbody + 8:kbody + 8 + 12 * n])
                        out["stsc"] = [(ent[3 * i], ent[3 * i + 1])
                                       for i in range(n)]
                    elif kb == b"stts":
                        # decode time-to-sample runs (count, delta) —
                        # expanded to one duration per sample (§8.6.1.2)
                        (n,) = struct.unpack(
                            ">I", data[kbody + 4:kbody + 8])
                        ent = struct.unpack(
                            f">{2 * n}I", data[kbody + 8:kbody + 8 + 8 * n])
                        durs = []
                        for i in range(n):
                            durs += [ent[2 * i + 1]] * ent[2 * i]
                        out["durations"] = durs
                    elif kb in (b"stco", b"co64"):
                        (n,) = struct.unpack(
                            ">I", data[kbody + 4:kbody + 8])
                        fmt, w = (">%dI" % n, 4) if kb == b"stco" \
                            else (">%dQ" % n, 8)
                        out["chunk_offsets"] = list(struct.unpack(
                            fmt, data[kbody + 8:kbody + 8 + w * n]))
    if out["codec"] is None:
        return None
    return out


def _sample_ranges(tbl: dict) -> "list[tuple[int, int]]":
    """Absolute (offset, size) of every sample: expand the stsc chunk
    runs over the stco/co64 chunk list, walking sizes within each chunk
    (offsets in a chunk are consecutive — §8.7.4/8.7.5)."""
    sizes, offsets, stsc = tbl["sizes"], tbl["chunk_offsets"], tbl["stsc"]
    if not sizes or not offsets or not stsc:
        raise ValueError("track is missing stsz/stco/stsc sample tables")
    n_chunks = len(offsets)
    per_chunk = []
    for i, (first, count) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else n_chunks
        per_chunk += [count] * (last - first + 1)
    if len(per_chunk) != n_chunks or sum(per_chunk) != len(sizes):
        raise ValueError("stsc/stco/stsz sample tables are inconsistent")
    ranges, k = [], 0
    for ci, off in enumerate(offsets):
        pos = off
        for _ in range(per_chunk[ci]):
            ranges.append((pos, sizes[k]))
            pos += sizes[k]
            k += 1
    return ranges


def decode_video_frames(payload: bytes) -> "list":
    """Decode every video frame of an MJPEG-class MP4 ('jpeg' sample
    entry: each sample is a standalone baseline JPEG) with the in-repo
    clean-room T.81 codec — the sample tables locate each sample's
    bytes in mdat, no codec library involved (r11, VERDICT r10
    directive 1). Returns a list of uint8 pixel arrays in sample order.
    Inter-frame codecs (avc1/hev1/av01/...) genuinely need a
    libavcodec-class decoder and raise NotImplementedError naming the
    sample-entry fourcc; a video track with no sample tables (metadata
    skeleton) raises ValueError."""
    data = bytes(payload)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        # r12: the RIFF sibling container — MJPG chunks / uncompressed
        # DIB frames (operators/avi.py); same output contract
        from aresdb_spark.operators.avi import decode_avi_frames
        return decode_avi_frames(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        # r14: animated WebP — ANMF frame walk + canvas compositing
        # over the VP8L engine (operators/webp.py); durations dropped,
        # same frame-list contract as the MP4/AVI paths
        from aresdb_spark.operators.webp import decode_webp_anim
        return decode_webp_anim(data)[0]
    if data[:6] in (b"GIF87a", b"GIF89a"):
        # r14: animated GIF — GCE disposal/transparency compositing
        # (operators/gif.py decode_gif_anim); same contract
        from aresdb_spark.operators.gif import decode_gif_anim
        return decode_gif_anim(data)[0]
    tbl = _mjpeg_track(data)
    frames = []
    for off, size in _sample_ranges(tbl):
        frames.append(_decode_sample(data, off, size))
    return frames


def _mjpeg_track(data: bytes) -> dict:
    """Locate the first video trak's sample tables and require the
    'jpeg' sample-entry codec (shared by the full-decode and the
    time-sampled paths)."""
    tbl = None
    for btype, body, bend in _walk(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ib, ibody, ibend in _walk(data, body, bend):
            if ib != b"trak":
                continue
            t = _probe_trak(data, ibody, ibend)
            if t["handler"] != "vide":
                continue
            tbl = _sample_table(data, ibody, ibend)
            break
    if tbl is None:
        raise ValueError("no video track with sample tables (stbl) — "
                         "metadata-only skeleton? use probe_mp4")
    codec = tbl["codec"]
    if codec != "jpeg":
        raise NotImplementedError(
            f"sample codec {codec!r} requires a codec library "
            f"(ffmpeg/libavcodec) — only 'jpeg' (motion JPEG) decodes "
            f"in-repo; use probe_mp4 for container metadata and "
            f"frame_sample for the sampling plan")
    return tbl


def _decode_sample(data: bytes, off: int, size: int):
    from aresdb_spark.operators.jpeg import decode_jpeg

    if off + size > len(data):
        raise ValueError("sample range beyond end of file")
    return decode_jpeg(data[off:off + size])


def sample_video_frames(payload: bytes, every_ms: int) -> "list[tuple]":
    """Time-based frame sampling with REAL timing (r11): the stts box
    gives each sample's display duration in media-timescale units
    (§8.6.1.2 run expansion; mdhd supplies the timescale), so for each
    target instant t = 0, every_ms, 2*every_ms, ... < duration the LAST
    frame whose presentation start <= t is chosen — and ONLY the chosen
    samples are decoded (each once), which is the point at scale: a
    1-fps sample of a 30-fps corpus decodes ~3% of the bytes. Returns
    [(target_ms, frame_idx, pts_ms, pixels), ...] in target order."""
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")
    data = bytes(payload)
    tbl = _mjpeg_track(data)
    durs, ts = tbl["durations"], tbl["timescale"]
    if not durs or not ts:
        raise ValueError("track is missing stts/mdhd timing")
    ranges = _sample_ranges(tbl)
    if len(durs) != len(ranges):
        raise ValueError("stts/stsz sample tables are inconsistent")
    # presentation start of frame f in ms (floor, matching the oracle)
    starts = []
    acc = 0
    for dur_u in durs:
        starts.append(acc * 1000 // ts)
        acc += dur_u
    duration_ms = acc * 1000 // ts
    out = []
    decoded: dict = {}
    f = 0
    t = 0
    while t < duration_ms or t == 0:
        while f + 1 < len(starts) and starts[f + 1] <= t:
            f += 1
        if f not in decoded:
            off, size = ranges[f]
            decoded[f] = _decode_sample(data, off, size)
        out.append((t, f, starts[f], decoded[f]))
        t += every_ms
    return out


def video_probe_stats(df):
    """media table → exact integer container metadata per payload:
    (media_id, brand fourcc as string, timescale, duration_ms, n_tracks,
    video_width, video_height). A per-row map (``map_rows``); parsing
    is lossless so the row is oracle-checkable bit-for-bit."""
    def row(mid, payload):
        m = probe_mp4(payload)
        vids = [t for t in m["tracks"] if t["handler"] == "vide"]
        return [(mid, m["brand"], m["timescale"], m["duration_ms"],
                 len(m["tracks"]), vids[0]["width"] if vids else None,
                 vids[0]["height"] if vids else None)]

    return map_rows(
        df, ["media_id", "payload"],
        "media_id BIGINT NOT NULL, brand STRING NOT NULL, timescale BIGINT"
        " NOT NULL, duration_ms BIGINT NOT NULL, n_tracks BIGINT NOT NULL,"
        " video_width BIGINT, video_height BIGINT", row)


def video_frame_stats(df):
    """media table → one row per DECODED video frame: (media_id,
    frame_idx, width, height, n_px, px_sum, px_min, px_max) — exact
    integer statistics over real container + codec bytes, so the row is
    oracle-checkable bit-for-bit for block-constant samples. The same
    column-pruned per-row map as decode_stats (``_px_stats``);
    the container metadata filters (probe_mp4 columns) prune upstream
    of this decode, which is the expensive half."""
    from aresdb_spark.operators.multimodal import _px_stats

    def row(mid, payload):
        out = []
        for fi, px in enumerate(decode_video_frames(payload)):
            w, h, _ch, *rest = _px_stats(px)
            out.append((mid, fi, w, h, *rest))
        return out

    return map_rows(
        df, ["media_id", "payload"],
        "media_id BIGINT NOT NULL, frame_idx BIGINT NOT NULL, width BIGINT"
        " NOT NULL, height BIGINT NOT NULL, n_px BIGINT NOT NULL, px_sum"
        " BIGINT NOT NULL, px_min BIGINT NOT NULL, px_max BIGINT NOT NULL",
        row)


def video_frame_sample_stats(df, every_ms: int = 250):
    """media table → one row per SAMPLING TARGET: (media_id, target_ms,
    frame_idx, pts_ms, width, height, px_sum) — real stts timing picks
    the frame for each target and only chosen samples decode
    (sample_video_frames). A column-pruned per-row map (``map_rows``);
    exact integers, so block-constant tracks are oracle-checkable
    bit-for-bit including the TIMING math (floor-ms starts, cumulative
    stts runs)."""
    return map_rows(
        df, ["media_id", "payload"],
        "media_id BIGINT NOT NULL, target_ms BIGINT NOT NULL, frame_idx"
        " BIGINT NOT NULL, pts_ms BIGINT NOT NULL, width BIGINT NOT NULL,"
        " height BIGINT NOT NULL, px_sum BIGINT NOT NULL",
        lambda mid, payload: [
            (mid, t, fi, pts, px.shape[1], px.shape[0],
             int(px.astype(np.int64).sum()))
            for t, fi, pts, px in sample_video_frames(payload, every_ms)])


def synthetic_avi_media(ids, id_col: str = "media_id"):
    """Deterministic REAL AVI payloads (r12, operators/avi.py): for id
    d the track has ``1 + d % 3`` frames of ``8 * (1 + d % 3)`` by
    ``8 * (1 + d % 2)`` pixels where frame f's 8x8 block (bx, by)
    holds ``(d*11 + f*29 + bx*37 + by*53) % 256`` — the same
    block-constant class as the MP4 MJPEG row, so even the lossy MJPG
    path is formula-exact. Even ids write MJPG chunks (through the
    in-repo JPEG encoder); odd ids write UNCOMPRESSED bottom-up DIB
    frames (equal-channel RGB, lossless), so one graded set covers
    both movi chunk kinds. Output: (media_id, payload binary)."""
    from aresdb_spark.operators.avi import encode_avi
    from aresdb_spark.operators.jpeg import encode_jpeg

    def payload_of(d):
        wb, hb = 1 + d % 3, 1 + d % 2
        frames = []
        for f in range(1 + d % 3):
            vals = np.array([[(d * 11 + f * 29 + bx * 37 + by * 53) % 256
                              for bx in range(wb)] for by in range(hb)],
                            dtype=np.uint8)
            px = np.kron(vals, np.ones((8, 8), np.uint8))
            frames.append(encode_jpeg(px) if d % 2 == 0
                          else np.stack([px] * 3, axis=2))
        return encode_avi(frames, 8 * wb, 8 * hb, fps=10,
                          mjpeg=d % 2 == 0)

    return map_payloads(ids, id_col, payload_of)


def synthetic_mjpeg_timed_media(ids, id_col: str = "media_id"):
    """Deterministic MJPEG tracks with FORMULA TIMING (r11): for id d,
    ``2 + d % 4`` frames where frame f is one constant 8x8 block of
    value ``(d*23 + f*47) % 256`` and displays for
    ``100 + 50 * ((d + f) % 3)`` units at timescale 600 — so the stts
    box carries real multi-entry runs and a SQL oracle recomputes every
    presentation timestamp (cumulative floor-ms) and the chosen frame
    per sampling target exactly. Output: (media_id, payload binary)."""
    from aresdb_spark.operators.jpeg import encode_jpeg

    def payload_of(d):
        nf = 2 + d % 4
        frames = [encode_jpeg(np.full((8, 8), (d * 23 + f * 47) % 256,
                                      dtype=np.uint8)) for f in range(nf)]
        durs = [100 + 50 * ((d + f) % 3) for f in range(nf)]
        return encode_mp4_mjpeg(frames, 8, 8, timescale=600,
                                frame_durations=durs)

    return map_payloads(ids, id_col, payload_of)


def synthetic_mjpeg_media(ids, id_col: str = "media_id"):
    """Deterministic REAL MJPEG MP4s from an id column: for id d the
    track has ``1 + d % 3`` frames of ``8*(1 + d % 3)`` x
    ``8*(1 + d % 2)`` grayscale, frame f's 8x8 block (bx, by) constant
    at ``(d*11 + f*29 + bx*37 + by*53) % 256`` — encoded through the
    clean-room T.81 codec into real sample tables (two mdat chunks when
    d is odd, exercising the stsc/stco run walk). Block-constant JPEG
    samples survive the lossy path exactly (jpeg.py oracle note), so a
    SQL oracle recomputes every frame statistic through REAL container
    + codec bytes. Output: (media_id, payload binary)."""
    from aresdb_spark.operators.jpeg import encode_jpeg

    def payload_of(d):
        wb, hb = 1 + d % 3, 1 + d % 2
        frames = []
        for f in range(1 + d % 3):
            vals = np.array([[(d * 11 + f * 29 + bx * 37 + by * 53) % 256
                              for bx in range(wb)] for by in range(hb)],
                            dtype=np.uint8)
            frames.append(encode_jpeg(
                np.kron(vals, np.ones((8, 8), dtype=np.uint8))))
        return encode_mp4_mjpeg(frames, 8 * wb, 8 * hb,
                                n_chunks=2 if d % 2 else 1)

    return map_payloads(ids, id_col, payload_of)


def synthetic_mjpeg_media_mixed(ids, id_col: str = "media_id"):
    """Composition of the two r11 surfaces: MJPEG tracks whose samples
    MIX the JPEG codec's three layouts — frame f of id d is grayscale /
    equal-channel RGB 4:4:4 / equal-channel RGB 4:2:0 by ``(d+f) % 3``,
    built from ``1 + d % 2`` x ``1 + (d//2) % 2`` CONSTANT 16x16
    macroblocks (tile (bx, by) of frame f holds
    ``(d*17 + f*29 + bx*43 + by*61) % 256``), ``1 + d % 3`` frames per
    track, two mdat chunks when d is odd; frames of odd-``d//3`` tracks
    are PROGRESSIVE (SOF2) streams. Every layout reconstructs the
    formula exactly (macroblock-constant oracle class, jpeg.py;
    progressive carries the same coefficients as baseline), so one
    DuckDB oracle covers sample-table walk + per-frame codec dispatch +
    chroma path + progressive scan assembly bit-for-bit."""
    from aresdb_spark.operators.jpeg import encode_jpeg

    def payload_of(d):
        tw, th = 1 + d % 2, 1 + (d // 2) % 2
        frames = []
        for f in range(1 + d % 3):
            vals = np.array([[(d * 17 + f * 29 + bx * 43 + by * 61) % 256
                              for bx in range(tw)] for by in range(th)],
                            dtype=np.uint8)
            gray = np.kron(vals, np.ones((16, 16), dtype=np.uint8))
            mode = (d + f) % 3
            img = gray if mode == 0 else np.stack([gray] * 3, axis=2)
            frames.append(encode_jpeg(
                img, subsampling="420" if mode == 2 else "444",
                progressive=(d // 3) % 2 == 1))
        return encode_mp4_mjpeg(frames, 16 * tw, 16 * th,
                                n_chunks=2 if d % 2 else 1)

    return map_payloads(ids, id_col, payload_of)


def synthetic_mp4_media(ids, id_col: str = "media_id"):
    """Deterministic REAL MP4 skeletons from an id column: timescale
    ``600 * (1 + d % 2)``, movie duration ``600 + (d * 37) % 100000``
    units, ``1 + d % 2`` tracks (track 1 vide ``16*(1 + d % 20)`` x
    ``16*(1 + d % 15)``, track 2 soun), 64-bit mvhd/tkhd variants when
    ``d % 3 == 0`` (exercises the probe's v1 path). Parsing is
    lossless, so a SQL oracle recomputes every probed value."""
    def payload_of(d):
        dur = 600 + (d * 37) % 100000
        tracks = [{"id": 1, "handler": b"vide", "width": 16 * (1 + d % 20),
                   "height": 16 * (1 + d % 15), "duration_units": dur}]
        if d % 2:
            tracks.append({"id": 2, "handler": b"soun",
                           "duration_units": dur})
        return encode_mp4_skeleton(dur, 600 * (1 + d % 2), tracks,
                                   version=1 if d % 3 == 0 else 0)

    return map_payloads(ids, id_col, payload_of)


# --- video near-duplicate detection (r13) ------------------------------------
#
# Extends the near-dup dedup family to the third modality (images:
# dct_phash, audio: energy-delta fingerprint): an ORDER-SENSITIVE
# 64-bit clip fingerprint — the integer-WEIGHTED temporal mean of the
# decoded frames (weights 1..n, so reordering or editing frames moves
# the mean) hashed with the same DCT pHash the image path uses — then
# the shared banded-LSH Hamming join. Container twins (the same MJPEG
# frames in MP4 vs AVI, or re-packed as uncompressed DIB) fingerprint
# identically because every decode path in scope is pixel-exact for
# the 8x8-block-constant pattern class.


def video_fingerprint(frames: "list") -> int:
    """64-bit clip fingerprint: gray-convert each frame (integer
    channel mean), accumulate the weight-(i+1) temporal sum, divide by
    Σweights (integer), DCT-pHash the mean image. Pure integer
    pipeline — identical frames through any lossless-in-scope
    container hash identically; frame REORDERING changes the weighted
    mean (asserted in tests). All frames must share dimensions."""
    from aresdb_spark.operators.multimodal import dct_phash

    if not frames:
        raise ValueError("cannot fingerprint an empty clip")
    acc = None
    shape = None
    for i, f in enumerate(frames):
        px = np.asarray(f)
        if px.ndim == 3:
            px = px.astype(np.int64).sum(axis=2) // px.shape[2]
        if shape is None:
            shape = px.shape
        elif px.shape != shape:
            raise ValueError(
                f"clip mixes frame shapes {shape} and {px.shape}")
        g = px.astype(np.int64) * (i + 1)
        acc = g if acc is None else acc + g
    n = len(frames)
    mean = (acc // (n * (n + 1) // 2)).astype(np.uint8)
    return dct_phash(mean)


def video_fp_media(df):
    """media table → (media_id, vfp bigint): decode every frame of
    each MP4/AVI payload and clip-fingerprint it
    (``multimodal.media_hashes`` over the video kind)."""
    from aresdb_spark.operators.multimodal import _kind_hashes
    return _kind_hashes(df, "video", "vfp")


def video_near_duplicates(df, max_hamming: int = 7, bands: int = 8):
    """Video near-duplicate pairs: fingerprint once per clip (the
    decode is the dominant cost, so the hashes are materialized once),
    then the shared banded-LSH Hamming join (one (band, key) shuffle,
    JVM bit_count(xor) verify, pigeonhole recall at bands >
    max_hamming). Returns (id_a, id_b, hamming), id_a < id_b."""
    from aresdb_spark.operators.multimodal import _kind_near_duplicates
    return _kind_near_duplicates(df, "video", max_hamming, bands)


N_CLIP_FRAMES = 5


def near_dup_video_frames(d: int) -> "list":
    """The DECODED frames of ``synthetic_near_dup_videos`` id ``d`` as
    a pure function: 5 grayscale 64x64 blocky patterns (the
    8x8-block-constant class every in-scope decode path reproduces
    exactly). Ids group in threes like the image/audio corpora:

      - 3g:   base clip, frame f = blocky(seed(2g)*5 + f)
      - 3g+2: independent clip over seed 2g+1
      - 3g+1: the plant — for g % 3 == 2 an EDITED twin: frame
        ``g % 5`` is SUBSTITUTED with an unrelated pattern (the
        classic inserted-frame/bumper edit; the substituted frame's
        weight g%5+1 of 15 grades the perturbation, so measured
        fingerprint Hamming straddles the threshold across the id
        range); otherwise the exact base frames (container twin,
        Hamming 0)."""
    from aresdb_spark.operators.multimodal import _blocky_pattern

    g, role = d // 3, d % 3
    seed = (2 * g + 1) if role == 2 else 2 * g
    frames = [_blocky_pattern(seed * N_CLIP_FRAMES + f)
              for f in range(N_CLIP_FRAMES)]
    if role == 1 and g % 3 == 2:
        # substitution seeds live at 10^9 + g — disjoint from every
        # clip's seed*5+f range for any realistic corpus size
        frames[g % N_CLIP_FRAMES] = _blocky_pattern(10 ** 9 + g)
    return frames


def synthetic_near_dup_videos(ids, id_col: str = "media_id"):
    """Deterministic mixed-container corpus with PLANTED video
    duplicates: frames from ``near_dup_video_frames``; containers —
    MP4/MJPEG everywhere except the 3g+1 container twins, which
    re-pack the SAME frames as animated WebP (g % 4 == 1; lossless
    VP8L ANMF frames — r14), animated GIF (g % 4 == 3; gray-ramp
    palette — r14), AVI/MJPG (otherwise g even) or AVI uncompressed
    DIB (otherwise g odd, equal-RGB). Every path is pixel-exact for
    the blocky pattern class, so the all-pairs enumeration over the
    frame formula is the oracle. Output: (media_id, payload binary)."""
    from aresdb_spark.operators.avi import encode_avi
    from aresdb_spark.operators.gif import encode_gif_anim
    from aresdb_spark.operators.jpeg import encode_jpeg
    from aresdb_spark.operators.webp import encode_webp_anim

    def payload_of(d):
        g, role = d // 3, d % 3
        frames = near_dup_video_frames(d)
        twin = role == 1 and g % 3 != 2
        if twin and g % 4 == 1:
            # r14: animated-WebP container twin — the SAME frames as
            # full-canvas lossless VP8L ANMF frames (equal-channel RGB,
            # overwrite compositing); decode is pixel-exact, so the twin
            # fingerprints identically (Hamming 0) like the AVI re-packs
            return encode_webp_anim(
                [(0, 0, np.stack([f] * 3, axis=2), 40, 1, 0)
                 for f in frames], 64, 64)
        if twin and g % 4 == 3:
            # r14: animated-GIF container twin — gray-ramp palette
            # indices ARE the pixel values, full frames, no
            # transparency/disposal; lossless, so Hamming 0 like the
            # other re-packs
            return encode_gif_anim([(0, 0, f, 4, 0, None) for f in frames],
                                   64, 64)
        if twin and g % 2 == 0:
            return encode_avi([encode_jpeg(f) for f in frames], 64, 64)
        if twin:
            return encode_avi([np.stack([f] * 3, axis=2) for f in frames],
                              64, 64, mjpeg=False)
        return encode_mp4_mjpeg([encode_jpeg(f) for f in frames], 64, 64)

    return map_payloads(ids, id_col, payload_of)


def video_near_dup_oracle_pairs(n_ids: int,
                                max_hamming: int = 7) -> list:
    """Brute-force all-pairs ground truth for
    ``synthetic_near_dup_videos`` over ids ``0..n_ids-1`` (driver-side
    O(n²) enumeration over the pure frame formula — what the banded
    pipeline must reproduce without the quadratic join)."""
    fps = [video_fingerprint(near_dup_video_frames(d))
           for d in range(n_ids)]
    return [(a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in range(n_ids) for b in range(a + 1, n_ids)
            if bin(fps[a] ^ fps[b]).count("1") <= max_hamming]
