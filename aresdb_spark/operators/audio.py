"""Clean-room WAV codec (RIFF container: PCM, IEEE float, IMA ADPCM)
+ audio feature plumbing.

WAV is the audio analog of PNG: a container whose spec (RIFF chunks,
Microsoft/IBM RIFF spec, public) is self-contained, so it decodes FOR
REAL without a codec library — retiring the audio half of the
multimodal decode stub the same way r9/r10 retired PNG and JPEG.
Perceptual codecs (MP3/AAC/Opus) stay honest NotImplementedErrors:
their specs need entropy coders and psychoacoustic filterbanks no
container library here provides.

Scope (r11 widens the r10 PCM-only decoder to every self-contained
RIFF audio format):
  - decode: RIFF/WAVE with
      * PCM (``fmt `` tag 1): 8-bit unsigned, 16/24/32-bit signed LE
        (24-bit is the pro-audio staple; 3-byte samples are widened
        manually since no numpy dtype covers them),
      * IEEE float (tag 3): float32 or float64 LE — the r10 decoder's
        named reject,
      * IMA/DVI ADPCM (tag 0x11): the 4-bit block-predictive coder of
        the public IMA "Recommended Practices" spec (same algorithm as
        RFC 3551's DVI4) — mono AND stereo (channels interleave in
        4-byte/8-nibble groups within each block, per the spec's
        multi-channel layout),
      * G.711 A-law (tag 6) and µ-law (tag 7): the ITU-T telephony
        companders — closed-form 8-bit→13/14-bit segment/mantissa
        expansions, decoded by formula (no tables transcribed),
      * MS ADPCM (tag 2): Microsoft's 4-bit predictive coder (public
        WAVE format spec) — 7 declared coefficient pairs, two seed
        samples per block, signed nibbles scaled by an adaptive delta;
        mono and stereo (nibbles pair channels high/low per byte),
      * WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE): dispatched on the
        SubFormat GUID's embedded tag (PCM / float supported).
    Any channel count and sample rate for PCM/float; unknown chunks are
    skipped by declared size (the spec's rule). Perceptual formats
    (e.g. tag 0x55 = MP3) raise NotImplementedError naming the tag.
  - encode: matching writers for deterministic test payloads —
    ``encode_wav`` (PCM), ``encode_wav_float``, ``encode_adpcm_wav``,
    ``encode_msadpcm_wav``, ``encode_g711_wav`` (both laws).

PCM and IEEE float are LOSSLESS containers, so (unlike JPEG) arbitrary
synthetic sample formulas round-trip bit-for-bit. Float stats stay
oracle-exact by quantizing to Q8.8 fixed point (×256 + round): the
synthetic generator emits dyadic rationals k/256, exactly representable
in float32, so the quantization recovers k with NO tolerance. ADPCM is
lossy but fully DETERMINISTIC: the decoder is an integer state machine
(step table + clamps), so a DuckDB recursive CTE replays it exactly —
the oracle differentially checks the sequential decode loop itself.
"""

from __future__ import annotations

import struct

import numpy as np

from aresdb_spark.operators.util import map_payloads, map_rows

WAV_SIGNATURE = b"RIFF"

# IMA ADPCM tables (public constants from the IMA spec / RFC 3551 DVI4;
# the step table is the standard 89-entry ~1.1x geometric ladder)
IMA_STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767], dtype=np.int64)
IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _fmt_chunk(tag: int, ch: int, rate: int, block: int, bits: int,
               extra: bytes = b"") -> bytes:
    body = struct.pack("<HHIIHH", tag, ch, rate, rate * block, block, bits)
    return body + extra


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000,
               bits: int = 16) -> bytes:
    """PCM WAV writer: ``samples`` is integer ``(n,)`` mono or
    ``(n, ch)`` interleaved-on-write; ``bits`` 8 (uint8) or 16/24/32
    (signed LE)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == 16:
        data = s.astype("<i2").tobytes()
    elif bits == 8:
        data = s.astype(np.uint8).tobytes()
    elif bits == 32:
        data = s.astype("<i4").tobytes()
    elif bits == 24:
        v = s.astype("<i4").ravel()
        b = v.view(np.uint8).reshape(-1, 4)[:, :3]   # drop each MSB byte
        data = b.tobytes()
    else:
        raise ValueError(f"bits={bits}: PCM 8/16/24/32 only")
    block = ch * bits // 8
    fmt = _fmt_chunk(1, ch, sample_rate, block, bits)
    return _riff(fmt, data)


def encode_wav_float(samples: np.ndarray, sample_rate: int = 16_000,
                     bits: int = 32) -> bytes:
    """IEEE-float WAV writer (format tag 3): ``bits`` 32 or 64."""
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == 32:
        data = s.astype("<f4").tobytes()
    elif bits == 64:
        data = s.astype("<f8").tobytes()
    else:
        raise ValueError(f"bits={bits}: float 32/64 only")
    block = ch * bits // 8
    # tag-3 fmt carries cbSize=0 plus a fact chunk (sample count) per
    # the RIFF rule for non-PCM formats
    fmt = _fmt_chunk(3, ch, sample_rate, block, bits, struct.pack("<H", 0))
    fact = b"fact" + struct.pack("<II", 4, n)
    return _riff(fmt, data, pre_data=fact)


def _riff(fmt: bytes, data: bytes, pre_data: bytes = b"") -> bytes:
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + (b"\x00" if len(fmt) % 2 else b"")
            + pre_data
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) % 2 else b""))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def mulaw_expand(b: np.ndarray) -> np.ndarray:
    """G.711 µ-law byte → linear PCM (ITU-T G.711 table 2a/2b as the
    closed form): complement, split into sign/segment/mantissa, expand
    ``((2*mant + 33) << seg) - 33`` quantization intervals of 4 —
    i.e. value = (((mant << 3) | 0x84) << seg) - 0x84 in sample units."""
    x = (~np.asarray(b, dtype=np.uint8)).astype(np.int64) & 0xFF
    sign = x & 0x80
    seg = (x >> 4) & 0x07
    mant = x & 0x0F
    val = (((mant << 3) | 0x84) << seg) - 0x84
    return np.where(sign != 0, -val, val)


def mulaw_compress(v: np.ndarray) -> np.ndarray:
    """Linear PCM → µ-law byte (the matching encoder: bias by 0x84,
    find the segment = position of the leading bit, keep 4 mantissa
    bits, complement)."""
    v = np.asarray(v, dtype=np.int64)
    sign = np.where(v < 0, 0x80, 0)
    # clip so the biased magnitude stays within seg 7 (32635 + 0x84 =
    # 0x7FFF, the spec's overload point)
    mag = np.minimum(np.abs(v), 32635) + 0x84
    seg = np.floor(np.log2(mag)).astype(np.int64) - 7
    mant = (mag >> (seg + 3)) & 0x0F
    return ((~(sign | (seg << 4) | mant)) & 0xFF).astype(np.uint8)


def alaw_expand(b: np.ndarray) -> np.ndarray:
    """G.711 A-law byte → linear PCM: XOR 0x55, sign/segment/mantissa;
    segment 0 is linear (value = 2*mant + 1 intervals of 8), higher
    segments expand ``((mant << 4) | 0x108) << (seg - 1)`` — in sample
    units (13-bit magnitude × 8)."""
    x = (np.asarray(b, dtype=np.uint8).astype(np.int64)) ^ 0x55
    sign = x & 0x80                  # G.711 A-law: bit 7 SET = positive
    seg = (x >> 4) & 0x07
    mant = x & 0x0F
    lin = (mant << 4) | 0x08
    val = np.where(seg == 0, lin, ((mant << 4) | 0x108) << (seg - 1))
    return np.where(sign != 0, val, -val)


def alaw_compress(v: np.ndarray) -> np.ndarray:
    """Linear PCM → A-law byte (segment by leading bit of |v|>>4, 4
    mantissa bits, XOR 0x55)."""
    v = np.asarray(v, dtype=np.int64)
    sign = np.where(v >= 0, 0x80, 0)     # bit 7 SET = positive (G.711)
    mag = np.minimum(np.abs(v), 0x7FFF)
    top = mag >> 4
    seg = np.where(top == 0, 0,
                   np.maximum(0, np.floor(np.log2(np.maximum(top, 1)))
                              .astype(np.int64) - 3))
    mant = np.where(seg == 0, mag >> 4, (mag >> (seg + 3)) & 0x0F)
    return (((sign | (seg << 4) | mant) ^ 0x55) & 0xFF).astype(np.uint8)


# MS ADPCM constants (public Microsoft WAVE format spec): the 7
# standard predictor coefficient pairs (fixed-point /256) and the
# 16-entry delta adaptation table indexed by the unsigned nibble
MSADPCM_COEFS = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
                 (460, -208), (392, -232)]
MSADPCM_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
                 768, 614, 512, 409, 307, 230, 230, 230]


def _mspred(samp1: int, samp2: int, c1: int, c2: int) -> int:
    """MS ADPCM fixed-point prediction with C TRUNCATING division by
    256 (r12, ADVICE: the spec and reference decoders — ffmpeg,
    libsndfile — divide with truncation toward zero, so a floor shift
    diverges by 1 on negative prediction sums, e.g. -8 vs -7)."""
    q = samp1 * c1 + samp2 * c2
    return -((-q) >> 8) if q < 0 else q >> 8


def _msadpcm_step(samp1: int, samp2: int, delta: int, c1: int, c2: int,
                  nib: int) -> tuple[int, int, int, int]:
    """One MS ADPCM decode step: predict from the two prior samples
    (fixed-point, TRUNCATING /256 — see _mspred), add the signed nibble
    scaled by delta, clamp to int16, adapt delta (>> 8 on an
    always-positive product, min 16). Returns (new, samp1', samp2',
    delta')."""
    snib = nib - 16 if nib >= 8 else nib
    pred = _mspred(samp1, samp2, c1, c2)
    new = max(-32768, min(32767, pred + snib * delta))
    delta = max(16, (MSADPCM_ADAPT[nib] * delta) >> 8)
    return new, new, samp1, delta


def encode_msadpcm_wav(samples: np.ndarray, sample_rate: int = 16_000,
                       samples_per_block: int = 500,
                       predictor: int = 0) -> bytes:
    """MS ADPCM WAV writer (format tag 2, mono or stereo): per-block
    header carries the predictor index, initial delta and the two seed
    samples per channel (output order: samp2 then samp1); data is one
    signed nibble per sample, HIGH nibble first (stereo: high = left,
    low = right). Nibble choice mirrors the decoder: the closest
    multiple of delta to the prediction error, clamped to [-8, 7]."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if n < 2:
        raise ValueError("MS ADPCM needs at least two samples")
    if ch not in (1, 2):
        raise NotImplementedError(
            f"{ch}-channel MS ADPCM not implemented (mono/stereo only)")
    if (samples_per_block - 2) * ch % 2:
        raise ValueError("block must hold whole bytes of nibbles")
    c1, c2 = MSADPCM_COEFS[predictor]
    blocks = []
    pos = 0
    while pos < n:
        chunk = s[pos:pos + samples_per_block]
        m = len(chunk)
        state = []
        for c in range(ch):
            s2 = int(chunk[0, c])
            s1 = int(chunk[1, c]) if m > 1 else s2
            state.append([s1, s2, 128])      # [samp1, samp2, delta]
        header = bytes([predictor] * ch)
        header += b"".join(struct.pack("<h", 128) for _ in range(ch))
        header += b"".join(struct.pack("<h", st[0]) for st in state)
        header += b"".join(struct.pack("<h", st[1]) for st in state)
        nibs = []
        for i in range(2, samples_per_block):
            for c in range(ch):
                st = state[c]
                target = int(chunk[i, c]) if i < m else st[0]
                pred = _mspred(st[0], st[1], c1, c2)
                snib = max(-8, min(7, round((target - pred) / st[2])))
                nib = snib + 16 if snib < 0 else snib
                _, st[0], st[1], st[2] = _msadpcm_step(
                    st[0], st[1], st[2], c1, c2, nib)
                nibs.append(nib)
        packed = bytes((nibs[i] << 4) | nibs[i + 1]
                       for i in range(0, len(nibs), 2))
        blocks.append(header + packed)
        pos += samples_per_block
    block_align = 7 * ch + (samples_per_block - 2) * ch // 2
    extra = struct.pack("<HHH", 4 + 4 * len(MSADPCM_COEFS),
                        samples_per_block, len(MSADPCM_COEFS))
    for a, b in MSADPCM_COEFS:
        extra += struct.pack("<hh", a, b)
    fmt = _fmt_chunk(2, ch, sample_rate, block_align, 4, extra)
    fact = b"fact" + struct.pack("<II", 4, n)
    return _riff(fmt, b"".join(blocks), pre_data=fact)


def _decode_msadpcm(pcm: bytes, ch: int, block_align: int,
                    samples_per_block: int, extra: bytes) -> np.ndarray:
    if ch not in (1, 2):
        raise NotImplementedError(
            f"{ch}-channel MS ADPCM not implemented (mono/stereo only)")
    coefs = MSADPCM_COEFS
    if len(extra) >= 6:
        (ncoef,) = struct.unpack("<H", extra[4:6])
        if len(extra) >= 6 + 4 * ncoef and ncoef:
            coefs = [struct.unpack("<hh", extra[6 + 4 * i:10 + 4 * i])
                     for i in range(ncoef)]
    chans: "list[list[int]]" = [[] for _ in range(ch)]
    for b0 in range(0, len(pcm), block_align):
        block = pcm[b0:b0 + block_align]
        # a SHORT final block decodes for the samples it holds (some
        # encoders truncate the last block); anything shorter than its
        # own header is a torn file and must not decode silently (r12)
        if len(block) < 7 * ch:
            raise ValueError(
                f"torn MS ADPCM final block: {len(block)} bytes < "
                f"{7 * ch}-byte header")
        preds = list(block[:ch])
        if any(p >= len(coefs) for p in preds):
            raise ValueError("MS ADPCM predictor index out of range")
        cc = [coefs[p] for p in preds]
        delta = [struct.unpack("<h", block[ch + 2 * c:ch + 2 * c + 2])[0]
                 for c in range(ch)]
        samp1 = [struct.unpack(
            "<h", block[3 * ch + 2 * c:3 * ch + 2 * c + 2])[0]
            for c in range(ch)]
        samp2 = [struct.unpack(
            "<h", block[5 * ch + 2 * c:5 * ch + 2 * c + 2])[0]
            for c in range(ch)]
        emitted = 2
        for c in range(ch):                  # seeds emit samp2 FIRST
            chans[c].append(samp2[c])
            chans[c].append(samp1[c])
        k = 0
        for byte in block[7 * ch:]:
            for nib in (byte >> 4, byte & 0x0F):   # HIGH nibble first
                if emitted >= samples_per_block:
                    break
                c = k % ch
                new, samp1[c], samp2[c], delta[c] = _msadpcm_step(
                    samp1[c], samp2[c], delta[c], cc[c][0], cc[c][1], nib)
                chans[c].append(new)
                k += 1
                if k % ch == 0:
                    emitted += 1
    return np.stack([np.array(c, dtype=np.int32) for c in chans], axis=1)


def encode_g711_wav(samples: np.ndarray, sample_rate: int = 8000,
                    law: str = "mulaw") -> bytes:
    """G.711 WAV writer: ``law`` is "mulaw" (format tag 7) or "alaw"
    (tag 6); ``samples`` are linear PCM ``(n,)`` or ``(n, ch)``,
    companded to 8 bits per sample."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if law == "mulaw":
        tag, data = 7, mulaw_compress(s.ravel()).tobytes()
    elif law == "alaw":
        tag, data = 6, alaw_compress(s.ravel()).tobytes()
    else:
        raise ValueError(f"law={law!r}: mulaw or alaw")
    fmt = _fmt_chunk(tag, ch, sample_rate, ch, 8, struct.pack("<H", 0))
    fact = b"fact" + struct.pack("<II", 4, n)
    return _riff(fmt, data, pre_data=fact)


def _ima_decode_nibble(pred: int, index: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM step (IMA spec §"ADPCM decompression"): rebuild the
    difference from the 3 magnitude bits + sign bit at the current step
    size, clamp the predictor to int16 and walk the step index."""
    step = int(IMA_STEP_TABLE[index])
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + int(IMA_INDEX_TABLE[nib & 7])))
    return pred, index


def _ima_encode_nibble(target: int, pred: int, index: int) -> int:
    """One IMA ADPCM encode step: trial-subtract the step halves (the
    spec's mirror of the decoder's reconstruction sum)."""
    step = int(IMA_STEP_TABLE[index])
    delta = target - pred
    nib = 0
    if delta < 0:
        nib = 8
        delta = -delta
    if delta >= step:
        nib |= 4
        delta -= step
    if delta >= step >> 1:
        nib |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        nib |= 1
    return nib


def encode_adpcm_wav(samples: np.ndarray, sample_rate: int = 16_000,
                     samples_per_block: int = 505) -> bytes:
    """IMA ADPCM WAV writer (format tag 0x11, mono or stereo): standard
    block layout — one 4-byte header PER CHANNEL (initial predictor
    int16, step index, pad) then two 4-bit codes per byte, low nibble
    first; stereo data interleaves channels in 4-byte/8-nibble groups
    (the spec's multi-channel rule). decode(encode(x)) tracks x within
    the local step size."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if n == 0:
        raise ValueError("ADPCM needs at least one sample")
    if ch not in (1, 2):
        raise NotImplementedError(
            f"{ch}-channel IMA ADPCM not implemented (mono/stereo only)")
    nibs_per_block = samples_per_block - 1
    if ch == 1 and nibs_per_block % 2:
        raise ValueError("samples_per_block must be odd (whole bytes)")
    if ch == 2 and nibs_per_block % 8:
        raise ValueError("stereo needs (samples_per_block - 1) % 8 == 0 "
                         "(whole 4-byte channel groups)")
    blocks = []
    index = [0] * ch
    pos = 0
    while pos < n:
        chunk = s[pos:pos + samples_per_block]
        headers = b""
        packed_ch = []
        for c in range(ch):
            pred = int(chunk[0, c])
            headers += struct.pack("<hBB", pred, index[c], 0)
            nibs = []
            for v in chunk[1:, c]:
                nib = _ima_encode_nibble(int(v), pred, index[c])
                pred, index[c] = _ima_decode_nibble(pred, index[c], nib)
                nibs.append(nib)
            while len(nibs) < nibs_per_block:    # pad the final block
                nibs.append(0)
                pred, index[c] = _ima_decode_nibble(pred, index[c], 0)
            packed_ch.append(bytes(nibs[i] | (nibs[i + 1] << 4)
                                   for i in range(0, len(nibs), 2)))
        if ch == 1:
            data = packed_ch[0]
        else:                    # interleave 4-byte groups: L, R, L, ...
            data = b"".join(
                packed_ch[c][g:g + 4]
                for g in range(0, len(packed_ch[0]), 4)
                for c in range(ch))
        blocks.append(headers + data)
        pos += samples_per_block
    block_align = 4 * ch + ch * (nibs_per_block // 2)
    fmt = _fmt_chunk(0x11, ch, sample_rate, block_align, 4,
                     struct.pack("<HH", 2, samples_per_block))
    fact = b"fact" + struct.pack("<II", 4, n)
    return _riff(fmt, b"".join(blocks), pre_data=fact)


def _decode_adpcm(pcm: bytes, ch: int, block_align: int,
                  samples_per_block: int) -> np.ndarray:
    if ch not in (1, 2):
        raise NotImplementedError(
            f"{ch}-channel IMA ADPCM not implemented (mono/stereo only)")
    chans: "list[list[int]]" = [[] for _ in range(ch)]
    for b0 in range(0, len(pcm), block_align):
        block = pcm[b0:b0 + block_align]
        # short final block: decode the nibbles it holds; shorter than
        # its own per-channel headers is a torn file (r12)
        if len(block) < 4 * ch:
            raise ValueError(
                f"torn IMA ADPCM final block: {len(block)} bytes < "
                f"{4 * ch}-byte header")
        pred = [0] * ch
        index = [0] * ch
        emitted = [1] * ch
        for c in range(ch):
            p, ix, _ = struct.unpack("<hBB", block[4 * c:4 * c + 4])
            pred[c] = p
            index[c] = max(0, min(88, ix))
            chans[c].append(p)           # header predictor IS sample 0
        data = block[4 * ch:]
        # nibbles interleave in 4-byte groups per channel (mono: every
        # group is channel 0 — identical to a straight byte walk)
        for g in range(0, len(data), 4):
            c = (g // 4) % ch
            for byte in data[g:g + 4]:
                for nib in (byte & 0x0F, byte >> 4):
                    if emitted[c] >= samples_per_block:
                        break
                    pred[c], index[c] = _ima_decode_nibble(
                        pred[c], index[c], nib)
                    chans[c].append(pred[c])
                    emitted[c] += 1
    return np.stack([np.array(c, dtype=np.int32) for c in chans], axis=1)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a WAV: returns ``(samples (n, ch), sample_rate)`` —
    int32 for PCM/ADPCM (8-bit samples are centered to signed
    -128..127 so amplitude stats mean the same thing at both depths),
    float64 for IEEE-float payloads."""
    data = bytes(payload)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    pcm = None
    fact_n = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fact" and size >= 4:
            # declared sample count PER CHANNEL — authoritative for
            # compressed formats whose final block is encoder-padded
            # (r12, ADVICE: without it a 538-sample ADPCM input decoded
            # to 1000 synthetic trailing samples)
            (fact_n,) = struct.unpack("<I", body[:4])
        if cid == b"fmt ":
            tag, ch, rate, _, block, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if tag == 0xFFFE:
                # WAVE_FORMAT_EXTENSIBLE: the real format is the first
                # two bytes of the SubFormat GUID (RIFF extensible spec)
                if len(body) < 40:
                    raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE")
                (tag,) = struct.unpack("<H", body[24:26])
            extra = body[16:]
            fmt = (tag, ch, rate, block, bits, extra)
        elif cid == b"data":
            pcm = body
        # unknown chunks (LIST, fact, cue ...) skip by declared size;
        # chunks are word-aligned (RIFF pads odd sizes with one byte)
        pos += 8 + size + (size & 1)
    if fmt is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, ch, rate, block, bits, extra = fmt
    if tag == 1:                                         # PCM
        if bits == 16:
            arr = np.frombuffer(pcm[:len(pcm) - (len(pcm) % (2 * ch))],
                                dtype="<i2").astype(np.int32)
        elif bits == 8:
            arr = np.frombuffer(pcm[:len(pcm) - (len(pcm) % ch)],
                                dtype=np.uint8).astype(np.int32) - 128
        elif bits == 32:
            arr = np.frombuffer(pcm[:len(pcm) - (len(pcm) % (4 * ch))],
                                dtype="<i4").astype(np.int32)
        elif bits == 24:
            raw = np.frombuffer(
                pcm[:len(pcm) - (len(pcm) % (3 * ch))],
                dtype=np.uint8).reshape(-1, 3).astype(np.int32)
            arr = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
            arr -= (arr & 0x800000) << 1                 # sign-extend
        else:
            raise NotImplementedError(
                f"{bits}-bit PCM not implemented (8/16/24/32 only)")
        return arr.reshape(-1, ch), rate
    if tag == 3:                                         # IEEE float
        if bits == 32:
            arr = np.frombuffer(pcm[:len(pcm) - (len(pcm) % (4 * ch))],
                                dtype="<f4").astype(np.float64)
        elif bits == 64:
            arr = np.frombuffer(pcm[:len(pcm) - (len(pcm) % (8 * ch))],
                                dtype="<f8")
        else:
            raise NotImplementedError(
                f"{bits}-bit IEEE-float WAV not implemented (32/64 only)")
        return arr.reshape(-1, ch).astype(np.float64), rate
    if tag in (6, 7):                                    # G.711 A-law/µ-law
        raw = np.frombuffer(pcm[:len(pcm) - (len(pcm) % ch)],
                            dtype=np.uint8)
        arr = (alaw_expand(raw) if tag == 6 else mulaw_expand(raw)) \
            .astype(np.int32)
        return arr.reshape(-1, ch), rate
    if tag == 2:                                         # MS ADPCM
        if len(extra) >= 4:
            (samples_per_block,) = struct.unpack("<H", extra[2:4])
        else:
            samples_per_block = (block - 7 * ch) * 2 // ch + 2
        arr = _decode_msadpcm(pcm, ch, block, samples_per_block, extra)
        # the fact chunk's per-channel sample count trims encoder
        # padding in the final block (r12); a fact LARGER than the
        # decoded stream is ignored (the stream is what exists)
        if fact_n is not None and fact_n < len(arr):
            arr = arr[:fact_n]
        return arr, rate
    if tag == 0x11:                                      # IMA ADPCM
        if len(extra) >= 4:
            (samples_per_block,) = struct.unpack("<H", extra[2:4])
        else:
            samples_per_block = (block - 4 * ch) * 2 // ch + 1
        arr = _decode_adpcm(pcm, ch, block, samples_per_block)
        if fact_n is not None and fact_n < len(arr):
            arr = arr[:fact_n]
        return arr, rate
    raise NotImplementedError(
        f"WAV format tag 0x{tag:02X} requires a perceptual codec "
        f"library — supported tags: PCM (1), MS ADPCM (2), IEEE float "
        f"(3), A-law (6), mu-law (7), IMA ADPCM (0x11)")


def _f80_pack(value: float) -> bytes:
    """Encode a positive number as the 80-bit IEEE 754 EXTENDED float
    AIFF's COMM chunk uses for the sample rate (sign 1, exponent 15
    biased 16383, 64-bit mantissa with EXPLICIT integer bit)."""
    import math

    if value <= 0 or not math.isfinite(value):
        raise ValueError(f"sample rate must be finite positive: {value}")
    m, e = math.frexp(value)                 # value = m * 2^e, m in [0.5, 1)
    mant = int(m * (1 << 64))                # integer bit lands at bit 63
    return struct.pack(">H", (e - 1) + 16383) + mant.to_bytes(8, "big")


def _f80_unpack(raw: bytes) -> float:
    """Decode the 80-bit extended float (inverse of _f80_pack)."""
    if len(raw) != 10:
        raise ValueError("extended float must be 10 bytes")
    (se,) = struct.unpack(">H", raw[:2])
    mant = int.from_bytes(raw[2:], "big")
    sign = -1.0 if se & 0x8000 else 1.0
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    if exp == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    return sign * mant * 2.0 ** (exp - 16383 - 63)


AIFC_KNOWN = (b"NONE", b"sowt", b"fl32", b"FL32", b"ulaw", b"ULAW",
              b"alaw", b"ALAW", b"twos")


def decode_aiff(payload: bytes) -> "tuple[np.ndarray, int]":
    """Decode an AIFF / AIFF-C payload (Apple's public AIFF-1.3 /
    AIFF-C specs — the big-endian IFF sibling of RIFF/WAVE): returns
    ``(samples (n, ch), sample_rate)``, int32 for integer formats
    (8-bit AIFF is SIGNED, unlike WAV's unsigned — kept as decoded),
    float64 for fl32. Compression types: "NONE"/"twos" (big-endian
    PCM 8/16/24/32), "sowt" (little-endian 16-bit), "fl32" (big-endian
    float32), "ulaw"/"alaw" (G.711, reusing the WAV expanders).
    Anything else raises NotImplementedError naming the fourcc. The
    SSND offset field is honored; unknown chunks skip by size with IFF
    odd-length padding."""
    data = bytes(payload)
    if len(data) < 12 or data[:4] != b"FORM" \
            or data[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF/AIFF-C payload")
    is_aifc = data[8:12] == b"AIFC"
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack(">I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated AIFF chunk")
        if cid == b"COMM":
            ch, frames, bits = struct.unpack(">HIH", body[:8])
            rate = _f80_unpack(body[8:18])
            comp = body[18:22] if is_aifc and len(body) >= 22 else b"NONE"
            comm = (ch, frames, bits, rate, comp)
        elif cid == b"SSND":
            off, _blk = struct.unpack(">II", body[:8])
            ssnd = body[8 + off:]
        pos += 8 + size + (size & 1)         # IFF pads odd chunks
    if comm is None or ssnd is None:
        raise ValueError("AIFF missing COMM/SSND chunk")
    ch, frames, bits, rate, comp = comm
    if ch < 1:
        raise ValueError("AIFF channel count must be positive")
    if comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
        raw = np.frombuffer(ssnd[:frames * ch], np.uint8)
        arr = (mulaw_expand(raw) if comp in (b"ulaw", b"ULAW")
               else alaw_expand(raw)).astype(np.int32)
        return arr.reshape(-1, ch), int(round(rate))
    if comp in (b"fl32", b"FL32"):
        arr = np.frombuffer(ssnd[:frames * ch * 4], ">f4")
        return arr.reshape(-1, ch).astype(np.float64), int(round(rate))
    if comp not in (b"NONE", b"twos", b"sowt"):
        raise NotImplementedError(
            f"AIFF-C compression {comp!r} requires a codec library "
            f"(NONE/twos/sowt/fl32/ulaw/alaw only)")
    le = comp == b"sowt"
    if bits == 8:
        arr = np.frombuffer(ssnd[:frames * ch], np.int8).astype(np.int32)
    elif bits == 16:
        arr = np.frombuffer(ssnd[:frames * ch * 2],
                            "<i2" if le else ">i2").astype(np.int32)
    elif bits == 32:
        arr = np.frombuffer(ssnd[:frames * ch * 4],
                            "<i4" if le else ">i4").astype(np.int32)
    elif bits == 24:
        raw = np.frombuffer(ssnd[:frames * ch * 3], np.uint8) \
            .reshape(-1, 3).astype(np.int32)
        if le:
            arr = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        else:
            arr = raw[:, 2] | (raw[:, 1] << 8) | (raw[:, 0] << 16)
        arr -= (arr & 0x800000) << 1                 # sign-extend
    else:
        raise NotImplementedError(
            f"{bits}-bit AIFF PCM not implemented (8/16/24/32 only)")
    return arr.reshape(-1, ch), int(round(rate))


def encode_aiff(samples: np.ndarray, sample_rate: int = 16_000,
                bits: int = 16, compression: "bytes | None" = None) -> bytes:
    """AIFF / AIFF-C writer mirroring decode_aiff's scope: plain AIFF
    (big-endian PCM) when ``compression`` is None, else an AIFF-C FORM
    with "sowt" (LE 16-bit), "fl32", "ulaw" or "alaw"."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if compression is None:
        if bits == 8:
            data = s.astype(np.int8).tobytes()
        elif bits == 16:
            data = s.astype(">i2").tobytes()
        elif bits == 32:
            data = s.astype(">i4").tobytes()
        elif bits == 24:
            v = s.astype(">i4").ravel()
            data = v.view(np.uint8).reshape(-1, 4)[:, 1:].tobytes()
        else:
            raise ValueError(f"bits={bits}: AIFF PCM 8/16/24/32 only")
        comm = struct.pack(">HIH", ch, n, bits) + _f80_pack(sample_rate)
        form_type = b"AIFF"
    else:
        if compression == b"sowt":
            data, bits = s.astype("<i2").tobytes(), 16
        elif compression == b"fl32":
            data, bits = s.astype(">f4").tobytes(), 32
        elif compression == b"ulaw":
            data, bits = mulaw_compress(s.ravel()).tobytes(), 8
        elif compression == b"alaw":
            data, bits = alaw_compress(s.ravel()).tobytes(), 8
        else:
            raise ValueError(f"compression {compression!r}: "
                             f"sowt/fl32/ulaw/alaw only")
        name = compression.decode() + " coded"
        pstr = bytes([len(name)]) + name.encode()
        if len(pstr) % 2:
            pstr += b"\0"                            # pstring pads even
        comm = struct.pack(">HIH", ch, n, bits) + _f80_pack(sample_rate) \
            + compression + pstr
        form_type = b"AIFC"

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack(">I", len(body)) + body \
            + (b"\0" if len(body) % 2 else b"")

    chunks = b""
    if form_type == b"AIFC":
        chunks += chunk(b"FVER", struct.pack(">I", 0xA2805140))
    chunks += chunk(b"COMM", comm)
    chunks += chunk(b"SSND", struct.pack(">II", 0, 0) + data)
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + form_type \
        + chunks


AU_MAGIC = b".snd"

# Sun/NeXT AU encoding ids (the public audio/basic header layout)
_AU_ENC_MULAW, _AU_ENC_PCM8, _AU_ENC_PCM16 = 1, 2, 3
_AU_ENC_PCM24, _AU_ENC_PCM32 = 4, 5
_AU_ENC_F32, _AU_ENC_F64, _AU_ENC_ALAW = 6, 7, 27


def decode_au(payload: bytes) -> "tuple[np.ndarray, int]":
    """Sun/NeXT AU (.snd) decode (r14 — the public ``audio/basic``
    header: 6 big-endian uint32 fields ``magic ".snd", data offset,
    data size, encoding, sample rate, channels``; an offset > 24
    skips an annotation string; data size 0xFFFFFFFF means
    "unknown — read to EOF"). Encodings: 1 8-bit G.711 µ-law,
    2/3/4/5 signed big-endian PCM 8/16/24/32, 6/7 IEEE float 32/64,
    27 8-bit G.711 A-law. Samples are channel-interleaved; returns
    ``(samples (n, ch), rate)`` with native integer values (float for
    6/7), matching decode_wav/decode_aiff conventions. Validated
    against CPython's REAL shipped pluck-*.au fixtures — same clip,
    same samples as their WAV/AIFF twins (tests/test_real_fixtures).
    """
    data = bytes(payload)
    if len(data) < 24 or data[:4] != AU_MAGIC:
        raise ValueError("not an AU (.snd) payload")
    off, size, enc, rate, ch = struct.unpack(">5I", data[4:24])
    if off < 24 or off > len(data):
        raise ValueError("AU data offset out of range")
    if ch < 1 or rate < 1:
        raise ValueError("AU header has non-positive rate/channels")
    body = data[off:]
    if size != 0xFFFFFFFF:
        body = body[:size]
    if enc in (_AU_ENC_MULAW, _AU_ENC_ALAW):
        raw = np.frombuffer(body[:len(body) - (len(body) % ch)],
                            np.uint8)
        arr = (mulaw_expand(raw) if enc == _AU_ENC_MULAW
               else alaw_expand(raw)).astype(np.int32)
        return arr.reshape(-1, ch), rate
    if enc in (_AU_ENC_PCM8, _AU_ENC_PCM16, _AU_ENC_PCM24,
               _AU_ENC_PCM32):
        nb = enc - 1                                 # 1/2/3/4 bytes
        body = body[:len(body) - (len(body) % (nb * ch))]
        if nb == 1:
            arr = np.frombuffer(body, np.int8).astype(np.int32)
        elif nb == 2:
            arr = np.frombuffer(body, ">i2").astype(np.int32)
        elif nb == 4:
            arr = np.frombuffer(body, ">i4").astype(np.int32)
        else:                                        # 24-bit big-endian
            raw = np.frombuffer(body, np.uint8).reshape(-1, 3) \
                .astype(np.int32)
            arr = (raw[:, 0] << 16) | (raw[:, 1] << 8) | raw[:, 2]
            arr -= (arr & 0x800000) << 1             # sign-extend
        return arr.reshape(-1, ch), rate
    if enc in (_AU_ENC_F32, _AU_ENC_F64):
        nb = 4 if enc == _AU_ENC_F32 else 8
        body = body[:len(body) - (len(body) % (nb * ch))]
        arr = np.frombuffer(body, ">f4" if nb == 4 else ">f8") \
            .astype(np.float64)
        return arr.reshape(-1, ch), rate
    raise NotImplementedError(
        f"AU encoding {enc} is not implemented (mu-law/A-law, PCM "
        f"8/16/24/32, float 32/64 only)")


def encode_au(samples: np.ndarray, sample_rate: int = 16_000,
              encoding: int = _AU_ENC_PCM16,
              annotation: bytes = b"",
              raw_bytes: "bytes | None" = None) -> bytes:
    """AU writer mirroring the decode scope (deterministic corpus
    generation). ``samples`` is (n,) or (n, ch); integer PCM for
    encodings 2-5, float for 6/7. ``raw_bytes`` bypasses sample
    packing for the G.711 encodings (1/27) so oracle corpora can pin
    the COMPANDED byte stream to a formula, as the WAV/AIFF G.711
    rows do. The annotation (if any) pads the data offset past 24
    (NUL-padded to a 4-byte boundary)."""
    note = bytes(annotation)
    if note:
        note += b"\0" * ((4 - len(note) % 4) % 4 or 4)
    off = 24 + len(note)
    if encoding in (_AU_ENC_MULAW, _AU_ENC_ALAW):
        if raw_bytes is None:
            s = np.asarray(samples, np.int64)
            comp = (mulaw_compress(s.ravel())
                    if encoding == _AU_ENC_MULAW
                    else alaw_compress(s.ravel()))
            body, ch = comp.tobytes(), (s.shape[1] if s.ndim == 2 else 1)
        else:
            body, ch = bytes(raw_bytes), 1
    elif encoding in (_AU_ENC_PCM8, _AU_ENC_PCM16, _AU_ENC_PCM24,
                      _AU_ENC_PCM32):
        s = np.asarray(samples, np.int64)
        ch = s.shape[1] if s.ndim == 2 else 1
        flat = s.ravel()
        nb = encoding - 1
        lim = 1 << (8 * nb - 1)
        if flat.size and (int(flat.min()) < -lim
                          or int(flat.max()) >= lim):
            raise ValueError(f"sample exceeds {8 * nb}-bit range")
        if nb == 1:
            body = flat.astype(np.int8).tobytes()
        elif nb == 2:
            body = flat.astype(">i2").tobytes()
        elif nb == 4:
            body = flat.astype(">i4").tobytes()
        else:
            u = (flat & 0xFFFFFF).astype(np.uint32)
            b3 = np.stack([(u >> 16) & 0xFF, (u >> 8) & 0xFF,
                           u & 0xFF], axis=1).astype(np.uint8)
            body = b3.tobytes()
    elif encoding in (_AU_ENC_F32, _AU_ENC_F64):
        s = np.asarray(samples, np.float64)
        ch = s.shape[1] if s.ndim == 2 else 1
        body = s.ravel().astype(
            ">f4" if encoding == _AU_ENC_F32 else ">f8").tobytes()
    else:
        raise NotImplementedError(f"AU encoding {encoding} encode")
    hdr = AU_MAGIC + struct.pack(">5I", off, len(body), encoding,
                                 int(sample_rate), ch)
    return hdr + note + body


def synthetic_au_media(ids, id_col: str = "media_id"):
    """Deterministic REAL Sun/NeXT AU payloads (r14, decode_au)
    sweeping the decode scope: for id d, ``n = 44 + d % 19`` frames at
    rate ``8000 * (1 + d % 2)`` and ``d % 7`` picks the variant —
    big-endian PCM 16-bit STEREO with a 4-byte annotation (data
    offset 32; flat sample i = ``(d*97 + i*61) % 2001 - 1000``),
    signed 8-bit (``% 255 - 127``), 24-bit (``% 200001 - 100000``),
    32-bit (``% 4000001 - 2000000``), float32 dyadic ``k/256`` with
    ``k = (d*89 + i*53) % 4001 - 2000`` (Q8.8 stats recover k), and
    µ-law / A-law whose COMPANDED BYTE STREAM is the formula
    ``(d*3 + i*17) % 256`` (closed-form G.711 expansions, the same
    strategy as the WAV/AIFF G.711 rows). PCM/float are lossless and
    the expansions exact, so a DuckDB oracle recomputes every decoded
    statistic bit-for-bit through real big-endian .snd headers.
    Output: (media_id, payload binary)."""
    def payload_of(d):
        n, v = 44 + d % 19, d % 7
        rate = 8000 * (1 + d % 2)
        if v == 0:
            s = ((d * 97 + np.arange(n * 2) * 61) % 2001 - 1000) \
                .reshape(n, 2)
            return encode_au(s, rate, encoding=_AU_ENC_PCM16,
                             annotation=b"r14!")
        if v == 1:
            s = (d * 97 + np.arange(n) * 61) % 255 - 127
            return encode_au(s, rate, encoding=_AU_ENC_PCM8)
        if v == 2:
            s = (d * 97 + np.arange(n) * 61) % 200001 - 100000
            return encode_au(s, rate, encoding=_AU_ENC_PCM24)
        if v == 3:
            s = (d * 97 + np.arange(n) * 61) % 4000001 - 2000000
            return encode_au(s, rate, encoding=_AU_ENC_PCM32)
        if v == 4:
            k = (d * 89 + np.arange(n) * 53) % 4001 - 2000
            return encode_au(k / 256.0, rate, encoding=_AU_ENC_F32)
        raw = ((d * 3 + np.arange(n) * 17) % 256).astype(np.uint8).tobytes()
        return encode_au(None, rate, raw_bytes=raw,
                         encoding=_AU_ENC_MULAW if v == 5 else _AU_ENC_ALAW)

    return map_payloads(ids, id_col, payload_of)


def synthetic_flac_media(ids, id_col: str = "media_id"):
    """Deterministic REAL FLAC payloads (r12, operators/flac.py)
    sweeping the decode surface: for id d, ``n = 48 + 4 * (d % 7)``
    frames at rate ``8000 * (1 + d % 2)`` in 32-sample blocks, and
    ``d % 6`` picks the variant — FIXED order 2, VERBATIM, LPC
    (coefs [3, -1] shift 1), MID/SIDE stereo (flat sample (2i+c)),
    Rice ESCAPE partitions, and 24-bit FIXED order 4 with partition
    order 2. FLAC is lossless, so the integer sample formulas
    round-trip bit-for-bit through real Rice-coded frames:
      mono: sample i = ``(d*97 + i*61) % 2001 - 1000``
      stereo flat: ``(d*97 + i*61) % 2001 - 1000`` over 2n samples
      24-bit: ``(d*131 + i*997) % 2000001 - 1000000``
    Output: (media_id, payload binary)."""
    from aresdb_spark.operators.flac import encode_flac

    def payload_of(d):
        n, v = 48 + 4 * (d % 7), d % 6
        rate = 8000 * (1 + d % 2)
        mono = (d * 97 + np.arange(n) * 61) % 2001 - 1000
        if v == 0:
            return encode_flac(mono, rate, block_size=32, subframe="fixed",
                               fixed_order=2)
        if v == 1:
            return encode_flac(mono, rate, block_size=32,
                               subframe="verbatim")
        if v == 2:
            return encode_flac(mono, rate, block_size=32, subframe="lpc",
                               lpc_coefs=[3, -1], lpc_shift=1)
        if v == 3:
            st = ((d * 97 + np.arange(n * 2) * 61) % 2001 - 1000) \
                .reshape(n, 2)
            return encode_flac(st, rate, block_size=32, stereo="mid_side",
                               fixed_order=2)
        if v == 4:
            return encode_flac(mono, rate, block_size=32, fixed_order=1,
                               partition_order=1, escape_partitions=True)
        s24 = (d * 131 + np.arange(n) * 997) % 2000001 - 1000000
        return encode_flac(s24, rate, bps=24, block_size=32, fixed_order=4,
                           partition_order=2)

    return map_payloads(ids, id_col, payload_of)


def audio_stats(df):
    """media table → exact integer waveform statistics per payload:
    (media_id, n_samples, channels, sample_rate, duration_ms, amp_sum,
    amp_min, amp_max, abs_sum). Integer formats report raw sample
    units; IEEE-float payloads report Q8.8 fixed point (×256, rounded)
    so the stats stay integer-exact — the synthetic float generator
    emits dyadic rationals k/256, so the quantization is lossless and
    the decode path is oracle-checkable bit-for-bit. The per-row map
    (``map_rows``) of multimodal.decode_stats; metadata
    filters prune before any decode."""
    def row(mid, payload):
        s, rate = decode_audio(payload)
        if np.issubdtype(s.dtype, np.floating):
            flat = np.round(s.ravel() * 256.0).astype(np.int64)
        else:
            flat = s.astype(np.int64).ravel()
        return [(mid, s.shape[0], s.shape[1], rate,
                 s.shape[0] * 1000 // rate, int(flat.sum()),
                 int(flat.min()), int(flat.max()), int(np.abs(flat).sum()))]

    return map_rows(
        df, ["media_id", "payload"],
        "media_id BIGINT NOT NULL, n_samples BIGINT NOT NULL, channels"
        " BIGINT NOT NULL, sample_rate BIGINT NOT NULL, duration_ms BIGINT"
        " NOT NULL, amp_sum BIGINT NOT NULL, amp_min BIGINT NOT NULL,"
        " amp_max BIGINT NOT NULL, abs_sum BIGINT NOT NULL", row)


def synthetic_wav_media(ids, id_col: str = "media_id"):
    """Deterministic REAL WAV payloads from an id column, built
    executor-side: for id d, ``n = 64 + d % 33`` mono int16 samples with
    ``sample[i] = ((d*97 + i*61) % 2001) - 1000`` at rate
    ``8000 * (1 + d % 2)`` — pure integer arithmetic, PCM is lossless,
    so a SQL oracle recomputes every decoded statistic exactly.
    Output: (media_id, payload binary)."""
    def payload_of(d):
        samples = ((d * 97 + np.arange(64 + d % 33) * 61) % 2001 - 1000) \
            .astype(np.int16)
        return encode_wav(samples, sample_rate=8000 * (1 + d % 2))

    return map_payloads(ids, id_col, payload_of)


def synthetic_float_wav_media(ids, id_col: str = "media_id"):
    """Deterministic REAL IEEE-float WAV payloads (r11): for id d,
    ``n = 48 + d % 29`` mono samples ``k_i / 256`` with
    ``k_i = ((d*89 + i*53) % 4001) - 2000`` — dyadic rationals, exactly
    representable in float32 — as float32 when d is even, float64 when
    odd. audio_stats' Q8.8 quantization recovers k_i exactly, so a SQL
    oracle recomputes every statistic with no tolerance.
    Output: (media_id, payload binary)."""
    def payload_of(d):
        k = (d * 89 + np.arange(48 + d % 29) * 53) % 4001 - 2000
        return encode_wav_float(k / 256.0, sample_rate=16000,
                                bits=32 if d % 2 == 0 else 64)

    return map_payloads(ids, id_col, payload_of)


def synthetic_adpcm_wav_media(ids, id_col: str = "media_id"):
    """Deterministic REAL IMA ADPCM WAV payloads whose NIBBLE STREAM is
    a pure formula (r11): for id d, ONE mono block with initial
    predictor ``(d*31 % 1001) - 500``, initial step index ``d % 89``,
    and ``n = 40 + 2 * (d % 13)`` nibbles ``nib_i = (d*7 + i*5) % 16``.
    Building the coded stream directly (instead of via the encoder)
    means a DuckDB RECURSIVE CTE can replay the published decode state
    machine — step table, clamps, index walk — and check the decoder
    differentially, sample by sample. Output: (media_id, payload)."""
    def payload_of(d):
        n_nibs = 40 + 2 * (d % 13)
        nibs = [(d * 7 + i * 5) % 16 for i in range(n_nibs)]
        header = struct.pack("<hBB", (d * 31) % 1001 - 500, d % 89, 0)
        packed = bytes(nibs[i] | (nibs[i + 1] << 4)
                       for i in range(0, n_nibs, 2))
        fmt = _fmt_chunk(0x11, 1, 8000, 4 + n_nibs // 2, 4,
                         struct.pack("<HH", 2, n_nibs + 1))
        return _riff(fmt, header + packed)

    return map_payloads(ids, id_col, payload_of)


def synthetic_aiff_media(ids, id_col: str = "media_id"):
    """Deterministic REAL AIFF / AIFF-C payloads (r12) sweeping the
    decode scope: for id d, ``n = 40 + d % 17`` frames at rate
    ``8000 * (1 + d % 2)`` and ``d % 6`` picks the variant —
    big-endian PCM 16-bit STEREO (flat sample i = ``(d*97 + i*61) %
    2001 - 1000``), signed 8-bit (``% 255 - 127``), 24-bit
    (``% 200001 - 100000``), AIFF-C "sowt" little-endian 16-bit,
    "fl32" dyadic floats ``k/256`` with ``k = (d*89 + i*53) % 4001 -
    2000`` (Q8.8 stats recover k exactly), and "ulaw" whose COMPANDED
    BYTE STREAM is the formula ``(d*3 + i*17) % 256`` (the closed-form
    G.711 expansion is SQL-expressible). PCM/float are lossless and
    µ-law expansion is exact, so a DuckDB oracle recomputes every
    decoded statistic bit-for-bit through real big-endian IFF
    containers. Output: (media_id, payload binary)."""
    def chunk(cid, body):
        return cid + struct.pack(">I", len(body)) + body \
            + (b"\0" if len(body) % 2 else b"")

    def payload_of(d):
        n, v = 40 + d % 17, d % 6
        rate = 8000 * (1 + d % 2)
        if v == 0:
            s = ((d * 97 + np.arange(n * 2) * 61) % 2001 - 1000) \
                .reshape(n, 2)
            return encode_aiff(s, rate, bits=16)
        if v == 1:
            s = (d * 97 + np.arange(n) * 61) % 255 - 127
            return encode_aiff(s, rate, bits=8)
        if v == 2:
            s = (d * 97 + np.arange(n) * 61) % 200001 - 100000
            return encode_aiff(s, rate, bits=24)
        if v == 3:
            s = (d * 97 + np.arange(n) * 61) % 2001 - 1000
            return encode_aiff(s, rate, compression=b"sowt")
        if v == 4:
            k = (d * 89 + np.arange(n) * 53) % 4001 - 2000
            return encode_aiff(k / 256.0, rate, compression=b"fl32")
        # raw µ-law byte stream (formula bytes, not a compress()
        # round-trip — the oracle expands b closed-form, same strategy
        # as the WAV G.711 row)
        raw = ((d * 3 + np.arange(n) * 17) % 256).astype(np.uint8).tobytes()
        comm = struct.pack(">HIH", 1, n, 8) + _f80_pack(rate) + b"ulaw" \
            + b"\x04ULAW\x00"
        chunks = chunk(b"FVER", struct.pack(">I", 0xA2805140)) \
            + chunk(b"COMM", comm) \
            + chunk(b"SSND", struct.pack(">II", 0, 0) + raw)
        return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFC" \
            + chunks

    return map_payloads(ids, id_col, payload_of)


def audio_window_stats(df, window: int = 16):
    """media table → one row per fixed-size analysis window over the
    FIRST channel: (media_id, win_idx, n, amp_sum, abs_sum, amp_min,
    amp_max, zero_cross) — the framing step every audio featurizer
    (RMS/VAD/fingerprint) starts from, with all-integer outputs so the
    window walk is oracle-checkable bit-for-bit. ``zero_cross`` counts
    adjacent pairs WITHIN the window whose product is negative (strict
    sign changes; zeros break a run). A per-row map (``map_rows``)
    with one output row per window; the per-window reduction is
    vectorized numpy, not a Python loop per sample."""
    if window <= 0:
        raise ValueError("window must be positive")

    def row(mid, payload):
        s, _rate = decode_audio(payload)
        mono = s[:, 0]
        if np.issubdtype(mono.dtype, np.floating):
            mono = np.round(mono * 256.0)
        mono = mono.astype(np.int64)
        cross = (mono[1:] * mono[:-1] < 0)
        out = []
        for wi in range(-(-len(mono) // window)):
            seg = mono[wi * window:(wi + 1) * window]
            # pair (i-1, i) belongs to i's window; exclude the
            # window-opening sample's pair (cross-window)
            cseg = cross[wi * window:wi * window + len(seg) - 1]
            out.append((mid, wi, len(seg), int(seg.sum()),
                        int(np.abs(seg).sum()), int(seg.min()),
                        int(seg.max()), int(cseg.sum())))
        return out

    return map_rows(
        df, ["media_id", "payload"],
        "media_id BIGINT NOT NULL, win_idx BIGINT NOT NULL, n BIGINT NOT"
        " NULL, amp_sum BIGINT NOT NULL, abs_sum BIGINT NOT NULL, amp_min"
        " BIGINT NOT NULL, amp_max BIGINT NOT NULL, zero_cross BIGINT NOT"
        " NULL", row)


def synthetic_g711_wav_media(ids, id_col: str = "media_id"):
    """Deterministic REAL G.711 WAV payloads (r11) whose COMPANDED BYTE
    STREAM is a pure formula: for id d, ``n = 56 + d % 21`` mono bytes
    ``b_i = (d*3 + i*17) % 256`` at 8 kHz — µ-law (tag 7) for even d,
    A-law (tag 6) for odd. The expansions are closed-form integer
    segment/mantissa formulas, so a SQL oracle recomputes every decoded
    sample exactly (complement/XOR, shift, bias — no tables).
    Output: (media_id, payload binary)."""
    def payload_of(d):
        raw = ((d * 3 + np.arange(56 + d % 21) * 17) % 256).astype(np.uint8)
        fmt = _fmt_chunk(7 if d % 2 == 0 else 6, 1, 8000, 1, 8,
                         struct.pack("<H", 0))
        return _riff(fmt, raw.tobytes())

    return map_payloads(ids, id_col, payload_of)


def synthetic_msadpcm_wav_media(ids, id_col: str = "media_id"):
    """Deterministic REAL MS ADPCM WAV payloads whose NIBBLE STREAM is
    a pure formula (r11): for id d, ONE mono block with predictor
    ``d % 7``, initial delta ``16 + (d*13) % 300``, seed samples
    samp1 = ``(d*29) % 2001 - 1000`` / samp2 = ``(d*37) % 2001 - 1000``
    and ``n = 30 + 2 * (d % 11)`` nibbles ``nib_i = (d*11 + i*7) % 16``
    (high nibble first). A DuckDB RECURSIVE CTE replays the published
    state machine — two-sample prediction, signed-nibble scaling, int16
    clamp, delta adaptation with the 16-entry table — so the decoder is
    checked differentially sample by sample, across all 7 predictor
    pairs. Output: (media_id, payload binary)."""
    def payload_of(d):
        n_nibs = 30 + 2 * (d % 11)
        nibs = [(d * 11 + i * 7) % 16 for i in range(n_nibs)]
        header = bytes([d % 7]) + struct.pack(
            "<hhh", 16 + (d * 13) % 300, (d * 29) % 2001 - 1000,
            (d * 37) % 2001 - 1000)
        packed = bytes((nibs[i] << 4) | nibs[i + 1]
                       for i in range(0, n_nibs, 2))
        extra = struct.pack("<HHH", 4 + 4 * len(MSADPCM_COEFS), n_nibs + 2,
                            len(MSADPCM_COEFS))
        for a, b in MSADPCM_COEFS:
            extra += struct.pack("<hh", a, b)
        fmt = _fmt_chunk(2, 1, 8000, 7 + n_nibs // 2, 4, extra)
        return _riff(fmt, header + packed)

    return map_payloads(ids, id_col, payload_of)


# --- audio near-duplicate detection (r13, VERDICT r12 directive 7) ----------
#
# The audio analog of the image pHash pipeline: a 64-bit ENERGY-DELTA
# fingerprint per clip (the core trick of spectral fingerprinting
# schemes like Chromaprint/Shazam — compare adjacent analysis windows,
# keep only the comparison SIGNS so the signature survives volume
# scaling and lossless container changes — simplified to stay
# integer-exact and oracle-checkable), then the SAME banded-LSH
# Hamming join the image path uses (one shuffle on (band, key),
# JVM-side bit_count(xor) verify, pigeonhole recall guarantee).
# Reference surface: uber/aresdb has no media pipeline; this extends
# the SURVEY §2 LLM-data-prep operator family.

AUDIO_FP_FRAMES = 65                       # 64 adjacent-frame deltas


def audio_fingerprint(samples: np.ndarray) -> int:
    """64-bit energy-delta fingerprint: mono-mix (integer channel
    mean, the decode_stats convention), zero-pad to a multiple of 65,
    split into 65 equal sequential frames, per-frame energy =
    Σ|sample| (int64), bit i = 1 iff energy[i+1] > energy[i].

    Integer-exact: identical PCM content yields the IDENTICAL
    fingerprint through ANY lossless container (WAV/FLAC/AIFF), and a
    localized edit flips only the comparisons whose frames it touches
    (≤ 2 bits per edited frame). Float inputs (IEEE WAV / AIFF fl32)
    quantize to Q15 (×32767, round-half-away like audio_stats) first
    so the comparison basis is deterministic."""
    s = np.asarray(samples)
    if s.ndim == 2:                     # mono mix: integer floor-mean
        if s.dtype.kind in "iu":        # for PCM, float mean for IEEE
            s = s.astype(np.int64).sum(axis=1) // s.shape[1]
        else:
            s = s.astype(np.float64).sum(axis=1) / s.shape[1]
    if np.asarray(s).dtype.kind == "f":
        s = np.sign(s) * np.floor(np.abs(s) * 32767 + 0.5)
    s = np.abs(s.astype(np.int64))
    n = AUDIO_FP_FRAMES
    pad = (-len(s)) % n
    if pad:
        s = np.concatenate([s, np.zeros(pad, np.int64)])
    e = s.reshape(n, -1).sum(axis=1)
    bits = 0
    for i in range(n - 1):
        if e[i + 1] > e[i]:
            bits |= 1 << i
    return bits


def decode_audio(payload: bytes) -> "tuple[np.ndarray, int]":
    """Dispatch an audio payload by magic bytes to the clean-room
    decoders: RIFF/WAVE → ``decode_wav``, fLaC → ``decode_flac``,
    FORM/AIFF(-C) → ``decode_aiff``, .snd → ``decode_au`` (r14).
    Unknown containers raise NotImplementedError NAMING THE MAGIC
    (the strict-decode rule of VERDICT r11 #1 — never hash container
    bytes as if they were samples)."""
    data = bytes(payload)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return decode_wav(data)
    if data[:4] == b"fLaC":
        from aresdb_spark.operators.flac import decode_flac
        return decode_flac(data)
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        return decode_aiff(data)
    if data[:4] == AU_MAGIC:                         # Sun/NeXT AU (r14)
        return decode_au(data)
    raise NotImplementedError(
        f"audio container with magic {data[:8].hex()} is not "
        f"implemented (WAV/FLAC/AIFF/AU only; no codec library in "
        f"this environment)")


def fingerprint_media(df):
    """media table → (media_id, afp bigint): decode any supported
    audio container by magic and fingerprint it
    (``multimodal.media_hashes`` over the audio kind)."""
    from aresdb_spark.operators.multimodal import _kind_hashes
    return _kind_hashes(df, "audio", "afp")


def audio_near_duplicates(df, max_hamming: int = 7, bands: int = 8):
    """Audio near-duplicate pairs: fingerprint once per clip (the only
    Python step), then the shared banded-LSH Hamming join
    (``multimodal.banded_hamming_pairs`` — hashes materialized once,
    one (band, key) shuffle, JVM-side verify, ``max_hamming < bands``
    pigeonhole recall guarantee). Returns (id_a, id_b, hamming),
    id_a < id_b."""
    from aresdb_spark.operators.multimodal import _kind_near_duplicates
    return _kind_near_duplicates(df, "audio", max_hamming, bands)


def _fp_frame_amplitudes(seed: int) -> np.ndarray:
    """65 pseudorandom frame amplitudes in [256, 24255] (splitmix64
    finalizer keyed by seed): adjacent-frame comparisons of DISTINCT
    seeds agree ~50/50, so distinct clips sit ~32 fingerprint bits
    apart (measured floor asserted in tests)."""
    with np.errstate(over="ignore"):
        x = (np.arange(AUDIO_FP_FRAMES, dtype=np.uint64)
             + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15))
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (256 + (x % np.uint64(24000))).astype(np.int64)


def _fp_wave(amps: np.ndarray) -> np.ndarray:
    """Amplitudes → int16 mono samples: frame f is 64 samples of the
    alternating square wave ±amps[f], so Σ|sample| = 64·amps[f]
    exactly and the fingerprint is a pure function of the
    amplitudes."""
    sq = np.ones(64, np.int64)
    sq[1::2] = -1
    return (amps[:, None] * sq[None, :]).reshape(-1).astype(np.int16)


def near_dup_audio_samples(d: int) -> np.ndarray:
    """The DECODED samples of ``synthetic_near_dup_audio`` id ``d`` as
    a pure function (int16 mono, 65·64 = 4160 samples — every
    container below is lossless, so the decode reproduces these
    exactly). Ids group in threes, mirroring the image corpus:

      - 3g:   base clip, seed 2g
      - 3g+2: independent clip, seed 2g+1
      - 3g+1: the duplicate plant — for g % 3 == 2 an EDITED twin
        (1 + g % 5 frames get re-drawn amplitudes → measured Hamming
        1-10, so in-threshold plants must be FOUND and beyond-threshold
        ones EXCLUDED); otherwise the exact base samples (the
        container twin — FLAC for g % 3 == 0, AIFF for g % 3 == 1,
        Hamming 0)."""
    g, role = d // 3, d % 3
    if role == 0:
        return _fp_wave(_fp_frame_amplitudes(2 * g))
    if role == 2:
        return _fp_wave(_fp_frame_amplitudes(2 * g + 1))
    amps = _fp_frame_amplitudes(2 * g)
    if g % 3 == 2:
        for j in range(1 + g % 5):
            f = (g * 7 + j * 13) % AUDIO_FP_FRAMES
            # flip to the OPPOSITE amplitude extreme so the edit
            # reliably crosses both adjacent-frame comparisons
            amps[f] = 24255 if amps[f] <= 12255 else 256
    return _fp_wave(amps)


def synthetic_near_dup_audio(ids, id_col: str = "media_id"):
    """Deterministic mixed-container corpus with PLANTED audio
    duplicates (r13, VERDICT r12 directive 7 — the dedup corpora were
    image-only + WAV; this one feeds FLAC and AIFF payloads through
    the same per-row decode path): samples from
    ``near_dup_audio_samples``; containers — WAV PCM16 everywhere
    except the 3g+1 container twins, which encode as FLAC (g % 3 == 0,
    Rice-coded, operators/flac.py) or AIFF (g % 3 == 1, big-endian
    PCM). All three are lossless, so the all-pairs enumeration over
    the sample formula is the oracle. Output: (media_id, payload)."""
    from aresdb_spark.operators.flac import encode_flac

    def payload_of(d):
        g, role = d // 3, d % 3
        samples = near_dup_audio_samples(d)
        if role == 1 and g % 3 == 0:
            return encode_flac(samples, 16000, block_size=1024,
                               fixed_order=2)
        if role == 1 and g % 3 == 1:
            return encode_aiff(samples, 16000)
        return encode_wav(samples, 16000)

    return map_payloads(ids, id_col, payload_of)


def audio_near_dup_oracle_pairs(n_ids: int,
                                max_hamming: int = 7) -> list:
    """Brute-force all-pairs ground truth for the
    ``synthetic_near_dup_audio`` corpus over ids ``0..n_ids-1``:
    (id_a, id_b, hamming) for every pair within ``max_hamming``
    fingerprint bits, computed driver-side from the pure sample
    formula — the O(n²) answer the banded pipeline must reproduce
    without the quadratic join."""
    fps = [audio_fingerprint(near_dup_audio_samples(d))
           for d in range(n_ids)]
    return [(a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in range(n_ids) for b in range(a + 1, n_ids)
            if bin(fps[a] ^ fps[b]).count("1") <= max_hamming]
