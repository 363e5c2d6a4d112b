"""Multimodal (image/audio/video) column plumbing — north-star surface.

Media are opaque ``binary`` columns with typed metadata.  The engine's job
at 100 TB is the *plumbing*: schema, partitioning, Arrow batch shape, and
the ``mapInPandas`` kernel signature; the actual codec work belongs to
libraries (PIL/ffmpeg/torchvision) that are NOT in this runtime image.

Every kernel therefore takes a ``decoder`` callable:

- ``decoder=None`` (production default) raises ``NotImplementedError``
  with the dependency it needs — a clearly-marked stub;
- ``decoder=fake_decoder`` is a deterministic stand-in (derives features
  from the bytes themselves) so the Spark-side plumbing — batch iteration,
  schema, struct output — is real and fully tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, media binary, mime string, width int, height int, duration_ms long"
)

FEATURE_SCHEMA = "media_id long, n_bytes long, content_key long, feature array<double>"


def fake_decoder(payload: bytes, dim: int = 4) -> list[float]:
    """Deterministic stand-in for a real decode→embed pipeline: fixed-dim
    features derived from the md5 of the payload.  Replace with a real
    model under the same signature."""
    h = hashlib.md5(payload).digest()
    return [int.from_bytes(h[i * 4 : i * 4 + 4], "big") / 2**32 for i in range(dim)]


def _require_decoder(decoder: Callable | None, what: str) -> Callable:
    if decoder is None:
        raise NotImplementedError(
            f"{what} needs a media codec (PIL/ffmpeg) not present in this "
            "image; pass decoder=fake_decoder for the deterministic stub "
            "or a real callable with the same signature"
        )
    return decoder


def extract_features(
    media: DataFrame,
    decoder: Callable | None = None,
    media_col: str = "media",
    id_col: str = "media_id",
    dim: int = 4,
) -> DataFrame:
    """binary column → fixed-dim feature vectors via ``mapInPandas``.

    Arrow-batched: each pandas batch holds raw bytes; the decoder runs
    per-element inside the batch loop (vectorize inside a real decoder as
    appropriate).  Output keeps the id for joining back — no index-join
    needed (SURVEY J10).
    """
    dec = _require_decoder(decoder, "extract_features")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[media_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_key": payloads.map(
                        lambda b: int(hashlib.md5(b).hexdigest()[:15], 16)
                    ).astype("int64"),
                    "feature": payloads.map(lambda b: dec(b, dim)),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


DECODED_SCHEMA = (
    "media_id long, mime string, width int, height int, n_channels int, ok boolean"
)

RESIZED_SCHEMA = "media_id long, media binary, width int, height int, n_bytes long"

FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms long, frame binary, frame_len long"


def fake_frame_decoder(payload: bytes, ts_ms: int, duration_ms: int) -> bytes:
    """Deterministic stand-in for frame extraction: an 8-byte slice whose
    offset is proportional to the timestamp (a real decoder seeks and
    decodes the frame under this exact signature)."""
    if not payload:
        return b""
    off = (ts_ms * max(len(payload) - 8, 0)) // max(duration_ms, 1)
    return payload[off : off + 8]


def decode_media(
    media: DataFrame,
    decoder: Callable | None = None,
    media_col: str = "media",
    id_col: str = "media_id",
    mime_col: str = "mime",
) -> DataFrame:
    """binary column → decoded header metadata via ``mapInPandas``: the
    DECODE step of the media pipeline.  A payload the decoder rejects
    (raises) yields ``ok=false`` with null dims instead of failing the
    task — corrupt media at 100 TB is data, not an error."""
    dec = _require_decoder(decoder, "decode_media")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "mime": [], "width": [], "height": [],
                   "n_channels": [], "ok": []}
            for mid, payload, mime in zip(pdf[id_col], pdf[media_col], pdf[mime_col]):
                out["media_id"].append(int(mid))
                out["mime"].append(mime)
                try:
                    meta = dec(bytes(payload))
                    out["width"].append(int(meta["width"]))
                    out["height"].append(int(meta["height"]))
                    out["n_channels"].append(int(meta["n_channels"]))
                    out["ok"].append(True)
                except Exception:  # noqa: BLE001 — corrupt media is data
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_channels"].append(None)
                    out["ok"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    resizer: Callable | None = None,
    media_col: str = "media",
    id_col: str = "media_id",
) -> DataFrame:
    """binary column → resized binary column via ``mapInPandas``: the
    RESIZE step.  Output stays (id, binary, dims) so downstream stages
    (feature extraction, sinks) chain without joins."""
    rsz = _require_decoder(resizer, "resize_media")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [rsz(bytes(b), width, height) for b in pdf[media_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "media": payloads,
                    "width": width,
                    "height": height,
                    "n_bytes": [len(b) for b in payloads],
                }
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame,
    frame_decoder: Callable | None = None,
    interval_ms: int = 1000,
    max_frames: int = 16,
    media_col: str = "media",
    id_col: str = "media_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """video binary column → one row PER SAMPLED FRAME (the 1→N
    ``mapInPandas`` fan-out): frames at ``interval_ms`` spacing from 0,
    capped at ``max_frames`` per video.  A null duration falls back to
    the payload length in ms (the adapter regime for synthetic media) —
    real feeds carry probed duration metadata."""
    dec = _require_decoder(frame_decoder, "sample_frames")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame": [],
                    "frame_len": []}
            for mid, payload, dur in zip(
                pdf[id_col], pdf[media_col], pdf[duration_col]
            ):
                payload = bytes(payload)
                dur = int(dur) if pd.notna(dur) else len(payload)
                n = min(max_frames, dur // interval_ms + 1) if dur > 0 else 0
                for i in range(int(n)):
                    frame = dec(payload, i * interval_ms, dur)
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * interval_ms)
                    rows["frame"].append(frame)
                    rows["frame_len"].append(len(frame))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def documents_as_media(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload so the
    multimodal plumbing is exercisable on the synthetic tables."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("media"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
