"""Clean-room GIF codec (pure stdlib + numpy): LZW decode/encode per
the public GIF87a/GIF89a specification (CompuServe, 1987/1989).

GIF is the third of the big lossless web image containers (after PNG
and the block-exact JPEG oracle class) and — unlike PNG's zlib — its
compressor is IN SCOPE to build from scratch: GIF LZW is a ~100-line
variable-width dictionary coder, fully specified in the public spec
(Appendix F), with the GIF-specific twists implemented here for real:
LSB-first bit packing across 255-byte data sub-blocks, an initial code
width of ``min_code_size + 1``, CLEAR/END control codes, dictionary
growth capped at 4096 with CLEAR-based reset, and the "deferred clear"
decoder rule (a full table keeps decoding with 12-bit codes until the
encoder sends CLEAR).

Scope (honest, spec-cited):
  - decode: GIF87a and GIF89a; global and local color tables; the
    4-pass interlace row order (spec §23); 89a extension blocks
    (graphic control, comment, application, plain text) skipped by
    their sub-block chain per the spec's block-walk rule. Returns the
    FIRST image frame as RGB uint8 (h, w, 3) — the standard featurize
    choice for a data pipeline; ``decode_gif_frames`` returns every
    frame of an animation (frames are decoded independently; frame
    DISPOSAL/compositing is presentation semantics a pipeline
    statistic does not need and is documented out of scope).
    Transparency (GCE flag) is ignored: the palette color is returned.
  - encode: matching writer for deterministic test payloads — one or
    more 8-bit-palette frames, optional interlace, optional forced
    sub-block size and mid-stream CLEAR codes to exercise the decoder's
    corners with real streams.

GIF is LOSSLESS, so arbitrary integer-formula images round-trip
bit-for-bit and a DuckDB oracle recomputes decoded statistics exactly —
the PNG strategy, now through a from-scratch compression codec rather
than stdlib zlib.
"""

from __future__ import annotations

import struct

import numpy as np

from aresdb_spark.operators.util import map_payloads, map_rows

GIF_SIGNATURES = (b"GIF87a", b"GIF89a")


# -- LZW ---------------------------------------------------------------------


class _LsbBitWriter:
    """LSB-first bit packer (GIF packs code bits little-endian within
    bytes — the opposite of JPEG)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= (code & ((1 << width) - 1)) << self.n
        self.n += width
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def lzw_encode(indices: "list[int] | np.ndarray", min_code_size: int,
               clear_every: int = 0) -> bytes:
    """GIF LZW compressor (spec Appendix F): starts with a CLEAR code,
    grows the string table to 4095 then resets via CLEAR, widens the
    code size when the next free code would not fit. ``clear_every``
    > 0 additionally forces a CLEAR every that-many emitted codes
    (valid per spec — decoders must accept CLEAR anywhere) to exercise
    reset paths with real streams."""
    clear = 1 << min_code_size
    end = clear + 1
    bw = _LsbBitWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, end + 1, \
            min_code_size + 1

    table, next_code, width = reset()
    bw.write(clear, width)
    emitted = 0
    w = b""
    for idx in indices:
        c = bytes([int(idx)])
        if int(idx) >= clear:
            raise ValueError(
                f"pixel index {int(idx)} exceeds palette ({clear})")
        if w + c in table:
            w += c
            continue
        bw.write(table[w], width)
        emitted += 1
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        else:
            bw.write(clear, width)
            table, next_code, width = reset()
        if clear_every and emitted % clear_every == 0:
            bw.write(clear, width)
            table, next_code, width = reset()
        w = c
    if w:
        bw.write(table[w], width)
    bw.write(end, width)
    return bw.flush()


def lzw_decode(data: bytes, min_code_size: int,
               expected: "int | None" = None) -> np.ndarray:
    """GIF LZW decompressor: mirrors the encoder, including the
    code-not-yet-in-table case (KwKwK: output = prev + prev[0]) and the
    deferred-clear rule (a full table stays at 12-bit codes, adding
    nothing, until CLEAR arrives)."""
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = []
    width = min_code_size + 1
    mask = (1 << width) - 1
    prev: "bytes | None" = None
    out = bytearray()
    # inline LSB-first bit reader (r14): local accumulator + chunked
    # int.from_bytes refills instead of a per-code method call — the
    # read() dispatch was ~40% of decode wall in the codec bench
    acc = 0
    nb = 0
    p = 0
    ln = len(data)

    def reset_table():
        t = [bytes([i]) for i in range(clear)] + [b"", b""]
        return t

    table = reset_table()
    tlen = len(table)
    want = -1 if expected is None else expected
    while True:
        if nb < width:
            t = ln - p
            if t > 6:
                t = 6
            if t <= 0:
                raise ValueError("GIF LZW stream truncated")
            acc |= int.from_bytes(data[p:p + t], "little") << nb
            p += t
            nb += t << 3
        code = acc & mask
        acc >>= width
        nb -= width
        if code == clear:
            table = reset_table()
            tlen = len(table)
            width = min_code_size + 1
            mask = (1 << width) - 1
            prev = None
            continue
        if code == end:
            break
        if code < tlen and (code < clear or table[code]):
            seq = table[code]
        elif code == tlen and prev is not None:
            seq = prev + prev[:1]
        else:
            raise ValueError(f"invalid LZW code {code}")
        out += seq
        if prev is not None and tlen < 4096:
            table.append(prev + seq[:1])
            tlen += 1
            if tlen == (1 << width) and width < 12:
                width += 1
                mask = (1 << width) - 1
        prev = seq
        if want >= 0 and len(out) >= want:
            break
    if expected is not None and len(out) < expected:
        raise ValueError("LZW stream ended before the declared pixels")
    arr = np.frombuffer(bytes(out), dtype=np.uint8)
    return arr[:expected] if expected is not None else arr


# -- container ---------------------------------------------------------------


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))    # spec §23


def _interlace_order(h: int) -> "list[int]":
    rows = []
    for start, step in _INTERLACE_PASSES:
        rows += list(range(start, h, step))
    return rows


def _sub_blocks(data: bytes, block_size: int = 255) -> bytes:
    out = bytearray()
    for i in range(0, len(data), block_size):
        chunk = data[i:i + block_size]
        out.append(len(chunk))
        out += chunk
    out.append(0)                                        # terminator
    return bytes(out)


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("GIF sub-block chain truncated")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise ValueError("GIF sub-block truncated")
        out += data[pos:pos + n]
        pos += n


def encode_gif(frames: "np.ndarray | list[np.ndarray]",
               palette: "np.ndarray | None" = None,
               interlace: bool = False, block_size: int = 255,
               clear_every: int = 0) -> bytes:
    """GIF89a writer: ``frames`` is one uint8 index array (h, w) or a
    list of them (an animation); ``palette`` is (n, 3) uint8 RGB
    (defaults to the 256-gray ramp). ``interlace`` writes the 4-pass
    row order; ``block_size``/``clear_every`` shrink sub-blocks / force
    mid-stream CLEARs to exercise decoder corners."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    if palette is None:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    palette = np.asarray(palette, dtype=np.uint8)
    n_colors = len(palette)
    depth = max(1, int(n_colors - 1).bit_length())
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[:n_colors] = palette
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0])
    out += table.tobytes()
    for px in frames:
        fh, fw = px.shape
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, fw, fh)
        out += bytes([0x40 if interlace else 0x00])
        rows = _interlace_order(fh) if interlace else range(fh)
        indices = np.concatenate([np.asarray(px, np.uint8)[r] for r in rows])
        mcs = max(2, depth)
        out += bytes([mcs])
        out += _sub_blocks(lzw_encode(indices, mcs, clear_every),
                           block_size)
    out += b"\x3b"                                       # trailer
    return bytes(out)


def decode_gif_frames(payload: bytes) -> "list[np.ndarray]":
    """Decode every image frame of a GIF to RGB uint8 (h, w, 3) arrays
    (scope in the module docstring)."""
    data = bytes(payload)
    if data[:6] not in GIF_SIGNATURES:
        raise ValueError("not a GIF payload")
    w, h = struct.unpack("<HH", data[6:10])
    packed, _bg, _aspect = data[10], data[11], data[12]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    frames = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:                                # trailer
            break
        if block == 0x21:                                # 89a extension
            pos += 1                                     # label
            _, pos = _read_sub_blocks(data, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        left, top, fw, fh = struct.unpack("<HHHH", data[pos:pos + 8])
        fpacked = data[pos + 8]
        pos += 9
        lct = gct
        if fpacked & 0x80:                               # local color table
            n = 2 << (fpacked & 0x07)
            lct = np.frombuffer(data[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if lct is None:
            raise ValueError("GIF frame has no color table")
        mcs = data[pos]
        pos += 1
        lzw, pos = _read_sub_blocks(data, pos)
        idx = lzw_decode(lzw, mcs, expected=fw * fh)
        if idx.max(initial=0) >= len(lct):
            raise ValueError("GIF pixel index beyond the color table")
        grid = idx.reshape(fh, fw)
        if fpacked & 0x40:                               # interlaced
            un = np.zeros_like(grid)
            un[_interlace_order(fh)] = grid
            grid = un
        frames.append(lct[grid])
    if not frames:
        raise ValueError("GIF contains no image frame")
    return frames


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF as RGB uint8 (h, w, 3)."""
    return decode_gif_frames(payload)[0]


# -- animation (r14): GCE semantics + canvas compositing ----------------------
#
# decode_gif_frames deliberately decodes frames INDEPENDENTLY (per-frame
# pixel statistics); this section adds the GIF89a presentation layer —
# Graphic Control Extension disposal/transparency/delay, frame offsets,
# the NETSCAPE2.0 loop extension — so animated GIFs compose to full
# canvases and route into the video clip fingerprint like animated WebP.


def _walk_gif(data: bytes):
    """Yield ('gce', dict) / ('frame', dict) events in stream order plus
    the logical screen (w, h) and NETSCAPE loop count (None when
    absent). Shared by the probe and the compositing decoder."""
    if data[:6] not in GIF_SIGNATURES:
        raise ValueError("not a GIF payload")
    w, h = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    events = []
    loop = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            label = data[pos]
            pos += 1
            raw, pos = _read_sub_blocks(data, pos)
            if label == 0xF9 and len(raw) >= 4:     # graphic control
                gp = raw[0]
                events.append(("gce", {
                    "disposal": (gp >> 2) & 0x07,
                    "transparent": raw[3] if gp & 0x01 else None,
                    "delay_cs": int.from_bytes(raw[1:3], "little")}))
            elif label == 0xFF and raw[:11] == b"NETSCAPE2.0" \
                    and len(raw) >= 14 and raw[11] == 1:
                loop = int.from_bytes(raw[12:14], "little")
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        left, top, fw, fh = struct.unpack("<HHHH", data[pos:pos + 8])
        fpacked = data[pos + 8]
        pos += 9
        lct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            lct = np.frombuffer(data[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if lct is None:
            raise ValueError("GIF frame has no color table")
        mcs = data[pos]
        pos += 1
        lzw, pos = _read_sub_blocks(data, pos)
        events.append(("frame", {
            "left": left, "top": top, "fw": fw, "fh": fh,
            "interlaced": bool(fpacked & 0x40), "lct": lct,
            "mcs": mcs, "lzw": lzw}))
    return w, h, loop, events


def gif_anim_probe(payload: bytes) -> dict:
    """Animation metadata WITHOUT compositing: logical screen dims,
    NETSCAPE loop count (None when the extension is absent), and per
    frame the rect, delay (centiseconds), disposal method and
    transparent index."""
    w, h, loop, events = _walk_gif(bytes(payload))
    frames = []
    gce = {}
    for kind, ev in events:
        if kind == "gce":
            gce = ev
            continue
        frames.append({
            "left": ev["left"], "top": ev["top"],
            "width": ev["fw"], "height": ev["fh"],
            "delay_cs": gce.get("delay_cs", 0),
            "disposal": gce.get("disposal", 0),
            "transparent": gce.get("transparent"),
        })
        gce = {}                    # a GCE applies to ONE rendering block
    if not frames:
        raise ValueError("GIF contains no image frame")
    return {"width": w, "height": h, "loop_count": loop,
            "n_frames": len(frames), "frames": frames}


def decode_gif_anim(payload: bytes) -> "tuple[list, list]":
    """Composited animated-GIF decode: canvas starts fully transparent;
    each frame's non-transparent pixels overwrite its rect (GIF has no
    alpha blending — transparency only elides pixels); disposal 2
    restores the rect to transparent AFTER display, disposal 3 restores
    the canvas as it was before the frame. Returns
    ``(frames, delays_cs)`` — each frame the full canvas, (h, w, 3)
    when every composited frame is fully opaque else (h, w, 4)."""
    w, h, _, events = _walk_gif(bytes(payload))
    canvas = np.zeros((h, w, 4), np.uint8)
    frames, delays = [], []
    gce = {}
    for kind, ev in events:
        if kind == "gce":
            gce = ev
            continue
        left, top, fw, fh = ev["left"], ev["top"], ev["fw"], ev["fh"]
        if left + fw > w or top + fh > h:
            raise ValueError(
                f"GIF frame rect ({left},{top})+{fw}x{fh} exceeds the "
                f"{w}x{h} logical screen")
        lct = ev["lct"]
        idx = lzw_decode(ev["lzw"], ev["mcs"], expected=fw * fh)
        if idx.max(initial=0) >= len(lct):
            raise ValueError("GIF pixel index beyond the color table")
        grid = idx.reshape(fh, fw)
        if ev["interlaced"]:
            un = np.zeros_like(grid)
            un[_interlace_order(fh)] = grid
            grid = un
        before = canvas.copy() if gce.get("disposal") == 3 else None
        region = canvas[top:top + fh, left:left + fw]
        tindex = gce.get("transparent")
        mask = np.ones((fh, fw), bool) if tindex is None \
            else grid != tindex
        rgba = np.dstack([lct[grid],
                          np.full((fh, fw), 255, np.uint8)])
        region[mask] = rgba[mask]
        frames.append(canvas.copy())
        delays.append(gce.get("delay_cs", 0))
        disposal = gce.get("disposal", 0)
        if disposal == 2:
            canvas[top:top + fh, left:left + fw] = 0
        elif disposal == 3:
            canvas = before
        gce = {}
    if not frames:
        raise ValueError("GIF contains no image frame")
    if all((f[:, :, 3] == 255).all() for f in frames):
        frames = [f[:, :, :3].copy() for f in frames]
    return frames, delays


def _gif_anim_frame_specs(d: int) -> "tuple[int, int, list]":
    """Deterministic animation for id ``d`` — pure integer formulas
    shared by the corpus builder, the numpy oracle twin and the SQL
    oracle: logical screen (9+d%6)x(7+d%5), 2+d%3 frames over the
    default gray-ramp palette; frame 0 fills the screen, later frames
    are subrects with transparency (index 7 elided) on even (d+f) and
    dispose-to-transparent when (d+f)%3 == 0. Returns
    (w, h, [(left, top, idx, delay_cs, disposal, tindex)])."""
    w, h = 9 + d % 6, 7 + d % 5
    frames = []
    for f in range(2 + d % 3):
        if f == 0:
            x0, y0, fw, fh = 0, 0, w, h
            tindex = None
        else:
            x0, y0 = (d + f) % 3, (d + 2 * f) % 3
            fw, fh = 4 + (d + f) % 4, 3 + (d + f) % 3
            tindex = 7 if (d + f) % 2 == 0 else None
        yy, xx = np.mgrid[0:fh, 0:fw]
        idx = ((d * 19 + f * 43 + xx * 13 + yy * 11) % 256) \
            .astype(np.uint8)
        frames.append((x0, y0, idx, 4 + (d + f) % 5,
                       2 if f and (d + f) % 3 == 0 else 0, tindex))
    return w, h, frames


def gif_anim_oracle_stats(d: int) -> "tuple[int, int, int, int, int]":
    """Codec-free twin of ``gif_anim_stats`` for id ``d``: composites
    the formula frames with plain numpy (overwrite minus transparent
    pixels, dispose-to-transparent) over the gray ramp, where a
    composited pixel contributes 3x its palette index and transparent
    canvas contributes 0. Returns (n_frames, width, height,
    delay_total_cs, px_sum)."""
    w, h, frames = _gif_anim_frame_specs(d)
    canvas = np.zeros((h, w), np.int64)        # -0 = transparent black
    total = 0
    delay_total = 0
    for x0, y0, idx, delay, disposal, tindex in frames:
        fh, fw = idx.shape
        region = canvas[y0:y0 + fh, x0:x0 + fw]
        mask = np.ones((fh, fw), bool) if tindex is None \
            else idx != tindex
        region[mask] = idx.astype(np.int64)[mask]
        total += 3 * int(canvas.sum())
        delay_total += delay
        if disposal == 2:
            canvas[y0:y0 + fh, x0:x0 + fw] = 0
    return len(frames), w, h, delay_total, total


def synthetic_gif_anim_media(ids, id_col: str = "media_id"):
    """Deterministic ANIMATED GIF payloads (r14): real GIF89a streams
    with per-frame Graphic Control Extensions — full-screen first
    frames, subrect later frames, transparent-index elision and
    dispose-to-transparent — over the gray-ramp palette, so the
    composited canvases are integer-exact and a SQL oracle recomputes
    every statistic. Output: (media_id, payload)."""
    def payload_of(d):
        w, h, frames = _gif_anim_frame_specs(d)
        return encode_gif_anim(frames, w, h, loop_count=d % 4)

    return map_payloads(ids, id_col, payload_of)


def gif_anim_stats(df):
    """media table → per-payload animation statistics through the REAL
    GCE walk + LZW decode + canvas compositing: (media_id, n_frames,
    width, height, delay_total_cs, px_sum) where px_sum sums every
    composited frame's RGB values (transparent canvas = 0).
    A column-pruned per-row map (``map_rows``)."""
    def row(mid, payload):
        meta = gif_anim_probe(payload)
        frames, delays = decode_gif_anim(payload)
        return [(mid, len(frames), meta["width"], meta["height"],
                 int(sum(delays)),
                 sum(int(f[:, :, :3].astype(np.int64).sum())
                     for f in frames))]

    return map_rows(
        df, ["media_id", "payload"],
        "media_id BIGINT NOT NULL, n_frames INT NOT NULL, width INT NOT"
        " NULL, height INT NOT NULL, delay_total_cs BIGINT NOT NULL, px_sum"
        " BIGINT NOT NULL", row)


def encode_gif_anim(frames: "list[tuple]", screen_w: int, screen_h: int,
                    palette: "np.ndarray | None" = None,
                    loop_count: "int | None" = 0) -> bytes:
    """Animated GIF89a writer for deterministic corpora: ``frames`` is
    a list of ``(left, top, index_array, delay_cs, disposal,
    transparent_index_or_None)``; every frame gets a Graphic Control
    Extension, and ``loop_count`` (None to omit) writes the
    NETSCAPE2.0 application extension."""
    if palette is None:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    palette = np.asarray(palette, dtype=np.uint8)
    depth = max(1, int(len(palette) - 1).bit_length())
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[:len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", screen_w, screen_h)
    out += bytes([0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0])
    out += table.tobytes()
    if loop_count is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += struct.pack("<H", loop_count) + b"\x00"
    for left, top, px, delay_cs, disposal, tindex in frames:
        px = np.asarray(px, np.uint8)
        fh, fw = px.shape
        if left + fw > screen_w or top + fh > screen_h:
            raise ValueError("frame rect exceeds the logical screen")
        gp = (disposal & 0x07) << 2 | (1 if tindex is not None else 0)
        out += bytes([0x21, 0xF9, 0x04, gp])
        out += struct.pack("<H", delay_cs)
        out += bytes([tindex or 0, 0x00])
        out += b"\x2c" + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([0x00])
        mcs = max(2, depth)
        out += bytes([mcs])
        out += _sub_blocks(lzw_encode(px.reshape(-1), mcs))
    out += b"\x3b"
    return bytes(out)
