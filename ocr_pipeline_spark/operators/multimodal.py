"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media payloads exactly like the
reference carried images — as opaque bytes next to string keys
(DetectionRequest.image, common/schema/detection.py:5-11; decoded lazily,
std-detection/file_utils.py:12-27). Here the payload is a BinaryType
column and every kernel is an Arrow-batched ``mapInPandas`` (no base64
detour, no per-row Python in the row loop sense — one pandas pass per
batch; SURVEY.md §1.2).

The real codec step is STUBBED: no image/audio library is a dependency,
so payloads use a tiny deterministic container format (FAKE* headers,
below) — swapping in PIL/ffmpeg touches only ``_parse``; the Spark-side
plumbing (schema, fan-out shape, error-column routing, batch sizing) is
real and tested.

Fake container formats (big-endian u32 fields after the 7-byte magic):
    b"FAKEIMG" w h      + w*h gray bytes
    b"FAKEAUD" rate n   + n sample bytes
    b"FAKEVID" w h f    + f frames of w*h bytes
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MEDIA_SCHEMA",
    "MEDIA_META_SCHEMA",
    "FRAME_SCHEMA",
    "FEATURE_DIM",
    "synth_media",
    "decode_media_meta",
    "frame_sample",
    "media_features_packed",
    "feature_of",
    "format_feature",
    "media_dedup",
]

MEDIA_SCHEMA = "media_id long, url string, kind string, payload binary"

MEDIA_META_SCHEMA = (
    "media_id long, url string, kind string, width int, height int, "
    "n_frames int, sample_rate int, n_bytes long, payload_sha256 string, "
    "error string"
)

FRAME_SCHEMA = (
    "media_id long, frame_idx int, width int, height int, frame binary"
)

FEATURE_DIM = 16

_MAGICS = {b"FAKEIMG": "image", b"FAKEAUD": "audio", b"FAKEVID": "video"}


def _parse(payload: bytes | None) -> tuple[dict | None, str | None]:
    """(meta, error) for one payload — the P6 error-column pattern."""
    if payload is None or len(payload) < 7:
        return None, "empty or truncated payload"
    magic, body = bytes(payload[:7]), payload[7:]
    kind = _MAGICS.get(magic)
    if kind is None:
        return None, f"unknown magic {magic!r}"
    try:
        if kind == "image":
            w, h = struct.unpack(">II", body[:8])
            if len(body) != 8 + w * h:
                return None, "image payload size mismatch"
            return {"kind": kind, "width": w, "height": h}, None
        if kind == "audio":
            rate, n = struct.unpack(">II", body[:8])
            if len(body) != 8 + n:
                return None, "audio payload size mismatch"
            return {"kind": kind, "sample_rate": rate, "n_samples": n}, None
        w, h, f = struct.unpack(">III", body[:12])
        if len(body) != 12 + w * h * f:
            return None, "video payload size mismatch"
        return {"kind": kind, "width": w, "height": h, "n_frames": f}, None
    except struct.error:
        return None, "header too short"


def synth_media(n: int) -> pd.DataFrame:
    """Deterministic media table: cycles image/audio/video, pixel/sample
    bytes derived from sha256(42, i) — no RNG state. Every 23rd row is
    a corrupt payload (error-path fixture)."""
    rows = []
    for i in range(n):
        h = hashlib.sha256(f"42_{i}".encode()).digest()
        fill = (h * 64)[: 64 * 48]
        kind = ("image", "audio", "video")[i % 3]
        if i % 23 == 7:
            payload = b"NOTMEDIA" + h
        elif kind == "image":
            w, hh = 8 + (h[0] % 24), 8 + (h[1] % 16)
            payload = b"FAKEIMG" + struct.pack(">II", w, hh) + fill[: w * hh]
        elif kind == "audio":
            rate, ns = 8000 * (1 + h[0] % 3), 256 + h[1]
            payload = b"FAKEAUD" + struct.pack(">II", rate, ns) + fill[:ns]
        else:
            w, hh, f = 8 + (h[0] % 8), 8 + (h[1] % 8), 2 + (h[2] % 6)
            payload = (
                b"FAKEVID"
                + struct.pack(">III", w, hh, f)
                + (fill * 4)[: w * hh * f]
            )
        rows.append((i, f"https://media.example/{kind}/{i}", kind, payload))
    return pd.DataFrame(rows, columns=["media_id", "url", "kind", "payload"])


def decode_media_meta(media: DataFrame) -> DataFrame:
    """payload → typed metadata row (decode-once, error-column routed).
    Narrow mapInPandas: each Arrow batch is decoded in one pandas pass;
    undecodable rows become error rows instead of failing the stage."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = {
                "media_id": pdf["media_id"].to_numpy(),
                "url": pdf["url"].to_numpy(),
                "kind": [],
                "width": [],
                "height": [],
                "n_frames": [],
                "sample_rate": [],
                "n_bytes": [],
                "payload_sha256": [],
                "error": [],
            }
            for payload in pdf["payload"]:
                meta, err = _parse(payload)
                meta = meta or {}
                out["kind"].append(meta.get("kind"))
                out["width"].append(meta.get("width"))
                out["height"].append(meta.get("height"))
                out["n_frames"].append(meta.get("n_frames"))
                out["sample_rate"].append(meta.get("sample_rate"))
                out["n_bytes"].append(len(payload) if payload is not None else 0)
                out["payload_sha256"].append(
                    hashlib.sha256(bytes(payload)).hexdigest()
                    if payload is not None
                    else None
                )
                out["error"].append(err)
            pdf_out = pd.DataFrame(out)
            for c, dt in [
                ("width", "Int32"),
                ("height", "Int32"),
                ("n_frames", "Int32"),
                ("sample_rate", "Int32"),
            ]:
                pdf_out[c] = pdf_out[c].astype(dt)
            yield pdf_out

    return media.mapInPandas(fn, schema=MEDIA_META_SCHEMA)


# frame_sample's default stride: frames 0, k, 2k, ...
FRAME_EVERY_K = 2


def frame_sample(media: DataFrame) -> DataFrame:
    """Video fan-out: one row per sampled frame (frames 0, k, 2k, … for
    k = FRAME_EVERY_K) —
    the A1 explode analogue for binary payloads; frame bytes are sliced
    views of the payload, sized by the header, never re-encoded."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                meta, err = _parse(payload)
                if err or meta["kind"] != "video":
                    continue
                w, h, f = meta["width"], meta["height"], meta["n_frames"]
                body = bytes(payload)[19:]
                for idx in range(0, f, FRAME_EVERY_K):
                    rows.append(
                        (mid, idx, w, h, body[idx * w * h : (idx + 1) * w * h])
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["media_id", "frame_idx", "width", "height", "frame"],
                )

    return media.mapInPandas(fn, schema=FRAME_SCHEMA)


def feature_of(payload: bytes | None) -> list | None:
    """Per-payload feature kernel: L2-normalized byte histogram of the
    payload → list of ``FEATURE_DIM`` doubles, or None for undecodable payloads.
    Single source of truth — both the Spark UDF and the DuckDB-oracle
    VALUES builder call this exact function, so cross-engine parity is
    by construction (CLAUDE.md recipe: inline the same Python-derived
    constants into both sides)."""
    meta, err = _parse(payload)
    if err:
        return None
    body = np.frombuffer(bytes(payload), dtype=np.uint8)
    hist = np.bincount(body % FEATURE_DIM, minlength=FEATURE_DIM).astype("float64")
    norm = float(np.sqrt((hist * hist).sum()))
    return (hist / norm).tolist() if norm else hist.tolist()


def format_feature(vec: list | None) -> str:
    """Stable cross-engine serialization of a feature vector: CPython
    '%.6f' per component, comma-joined; undecodable → '' sentinel
    (never a NULL-mixed hash column). Serialized Python-side because
    JVM double→string (Java 17 Double.toString, non-shortest) and
    DuckDB/Python formatting disagree on some doubles."""
    if vec is None:
        return ""
    return ",".join("%.6f" % v for v in vec)


def media_features_packed(media: DataFrame) -> DataFrame:
    """Feature extraction: ``feature_of`` (L2-normalized byte histogram
    of the payload, ``FEATURE_DIM`` doubles) per payload, serialized Python-side
    via ``format_feature`` → (media_id, feature_str); undecodable
    payloads give ''. A deterministic stand-in for an embedding model
    with the plumbing a real one needs (binary in, fixed-dim vector
    out, one Arrow-batched mapInPandas stage). Packed because an
    array<double> column can't be canonicalized/hashed for cross-engine
    value checks; parse it back with ``split``/``cast`` where a vector
    column is needed."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            feats = [format_feature(feature_of(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].to_numpy(), "feature_str": feats}
            )

    return media.mapInPandas(fn, schema="media_id long, feature_str string")


def media_dedup(media: DataFrame) -> DataFrame:
    """Byte-identical media dedup — the FIRST dedup stage of any
    multimodal crawl (the same logo, tracking pixel, player stub or
    stock photo is recrawled millions of times byte-for-byte; LAION-
    style pipelines drop exact URL+byte dupes before any decode): one
    canonical asset per distinct payload md5.

    Output: (fingerprint 32-hex md5 of the raw bytes, n_copies,
    canonical_media_id = min id). Compose
    ``media.join(out.select('canonical_media_id'), media_id ==
    canonical_media_id, 'left_semi')`` to keep one copy per asset;
    near-dup (re-encoded/resized) detection is the embedding layer's
    job, downstream of the decode kernels.

    Scale shape: the md5 is scan-local over the binary column; ONE
    groupBy on the 32-hex key with map-side partial count/min —
    payload BYTES never cross the exchange (the payload rule applied
    to media).

    DuckDB oracle: `q: mm_dedup` (kernel-replayed expectations inlined
    as VALUES — binary payloads are not expressible over the
    pre-registered views, the mm_decode_meta precedent).
    """
    return (
        media.select(
            F.md5(F.col("payload")).alias("fingerprint"),
            F.col("media_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("media_id").cast("long").alias("canonical_media_id"),
        )
    )
