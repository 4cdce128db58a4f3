"""Seeded inputs for the benchmark: the star-schema tables and the media
corpus. Everything here is built from the seed alone with numpy and the
stdlib (``zlib``/``struct`` for PNG, ``wave`` for WAV), never with the
product's own encoders or synthetic corpora, so the product can move or
drop those without breaking the benchmark.

Table shapes follow the sf0.1 synthetic star schema the engine is graded
on: ``events`` (100k rows over January 2024), ``lineitem`` (600k) joined
to ``part`` (20k), ``documents`` (5k) and ``embeddings`` (2k x 64).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30
BRANDS = 25
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
WORDS = ("a", "the", "and", "of", "spark", "batch", "stream", "query",
         "table", "column", "row", "key", "value", "hash", "sort", "join",
         "scan", "filter", "group", "agg", "window", "order", "part",
         "line", "data", "vector", "merge", "fast", "slow", "big", "small",
         "customer", "der", "die", "und", "le", "la", "et", "les", "des")
LANGS = ("en", "de", "fr", "es", "zh")
EMBED_DIM = 64

SIZES = {"events": 100_000, "lineitem": 600_000, "part": 20_000,
         "documents": 5_000, "embeddings": 2_000}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream): adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def events_table(seed: int, n: int = SIZES["events"]) -> pa.Table:
    r = rng_for(seed, "events")
    span_us = EVENTS_DAYS * 86_400 * 10**6
    offs = np.sort(r.integers(0, span_us, n))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, 1500, n, dtype=np.int64),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def part_table(seed: int, n: int = SIZES["part"]) -> pa.Table:
    r = rng_for(seed, "part")
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array([f"part {i}" for i in range(n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             r.integers(1, BRANDS + 1, n)]),
        "p_type": pa.array(np.asarray(PART_TYPES)[r.integers(0, 6, n)]),
        "p_size": r.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900 + np.arange(n) * 0.1, 2),
    })


def lineitem_table(seed: int, n: int = SIZES["lineitem"],
                   n_parts: int = SIZES["part"]) -> pa.Table:
    r = rng_for(seed, "lineitem")
    days = r.integers(0, 2500, n)
    ship = np.datetime64("1995-01-02", "us") + \
        (days * 86_400 * 10**6).astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": r.integers(0, n // 4, n, dtype=np.int64),
        "l_partkey": r.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": r.integers(0, 1000, n, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 100_000, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[
            r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.asarray(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def documents_table(seed: int, n: int = SIZES["documents"]) -> pa.Table:
    """Random word docs, ~1 in 5 of them a near copy (two tokens
    replaced) of an earlier original, so the dedup stages have real
    clusters. Copies are never copied again: every cluster is a star
    around its original, so the cluster search takes the same number of
    rounds whatever the seed."""
    r = rng_for(seed, "documents")
    vocab = np.asarray(WORDS)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and r.random() < 0.2:
            toks = texts[originals[int(r.integers(0, len(originals)))]
                         ].split(" ")
            for j in r.integers(0, len(toks), 2):
                toks[j] = vocab[r.integers(0, len(vocab))]
        else:
            toks = list(vocab[r.integers(0, len(vocab),
                                         int(r.integers(12, 80)))])
            originals.append(i)
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[r.integers(0, 5, n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(seed: int, n: int = SIZES["embeddings"]) -> pa.Table:
    """Unit vectors around 10 label centres, ~1 in 10 a near twin of an
    earlier vector, so semantic dedup has something to drop."""
    r = rng_for(seed, "embeddings")
    centres = r.normal(0, 1, (10, EMBED_DIM))
    labels = r.integers(0, 10, n).astype(np.int32)
    v = centres[labels] * 0.3 + r.normal(0, 1, (n, EMBED_DIM))
    twins = np.flatnonzero(r.random(n) < 0.1)
    twins = twins[twins > 0]
    src = (r.random(len(twins)) * twins).astype(np.int64)
    v[twins] = v[src] + r.normal(0, 0.02, (len(twins), EMBED_DIM))
    labels[twins] = labels[src]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels,
    })


TABLES = {"events": events_table, "part": part_table,
          "lineitem": lineitem_table, "documents": documents_table,
          "embeddings": embeddings_table}


def write_tables(seed: int, out_dir: str, names,
                 sizes: "dict[str, int] | None" = None) -> None:
    """Write the named tables as ``<out_dir>/<name>.parquet``, at
    ``sizes[name]`` rows where given."""
    for name in names:
        t = TABLES[name](seed, **({"n": sizes[name]}
                                  if sizes and name in sizes else {}))
        pq.write_table(t, f"{out_dir}/{name}.parquet")


# --- media ----------------------------------------------------------------

def png_bytes(pixels: np.ndarray) -> bytes:
    """Minimal PNG writer: 8-bit gray ``(h, w)`` or RGB ``(h, w, 3)``,
    filter type 0 on every row, one IDAT chunk."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    color = 0 if px.ndim == 2 else 2
    rows = px.reshape(h, -1)
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(h))

    def chunk(kind: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + kind + body
                + struct.pack(">I", zlib.crc32(kind + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def wav_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV through the stdlib ``wave`` module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def _image(r: np.random.Generator) -> np.ndarray:
    """32x32 image of 4x4-pixel blocks: strong low-frequency content, so
    its DCT hash is far from any other draw's."""
    coarse = r.integers(0, 256, (8, 8))
    return np.kron(coarse, np.ones((4, 4), dtype=np.int64))


def _clip(frames: int, r: np.random.Generator) -> np.ndarray:
    """65 frames of 64 samples, each frame a square wave of a random
    amplitude, so adjacent-frame energy order is decisive."""
    amps = r.integers(256, 24_000, frames)
    wave_ = np.tile(np.repeat([1, -1], 8), 4)
    return (amps[:, None] * wave_[None, :]).ravel()


def media_rows(seed: int, n_groups: int = 24) -> tuple[list, set]:
    """Media corpus: ``n_groups`` PNG images and ``n_groups`` WAV clips,
    each original followed by a near-duplicate twin (pixel or sample
    noise of a few units). Returns ``(rows, planted)`` where rows are
    ``(media_id, kind, payload)`` and ``planted`` the set of
    ``(kind, id_a, id_b)`` twin pairs the dedup must find."""
    r = rng_for(seed, "media")
    rows, planted = [], set()
    mid = 0
    for g in range(n_groups):
        img = _image(r)
        twin = np.clip(img + r.integers(-2, 3, img.shape), 0, 255)
        if g % 2:                       # half the images as RGB
            img = np.stack([img] * 3, axis=2)
            twin = np.stack([twin] * 3, axis=2)
        rows += [(mid, "image", png_bytes(img)),
                 (mid + 1, "image", png_bytes(twin))]
        planted.add(("image", mid, mid + 1))
        mid += 2
    for g in range(n_groups):
        clip = _clip(65, r)
        twin = clip + r.integers(-3, 4, clip.shape)
        rows += [(mid, "audio", wav_bytes(clip)),
                 (mid + 1, "audio", wav_bytes(twin))]
        planted.add(("audio", mid, mid + 1))
        mid += 2
    return rows, planted
