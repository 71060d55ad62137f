"""Multimodal column plumbing.

Media (image/audio/video) travels as an opaque ``binary`` payload
column plus typed metadata; decode / feature-extraction runs as an
Arrow-batched ``mapInPandas`` stage so heavy per-item work scales with
partitions, never through the driver.

The image decode path is REAL: ``llm.codecs`` implements full
PNG/BMP/GIF pixel decode and full JPEG pixel decode (baseline
sequential AND progressive) from the public specs with stdlib+numpy
only (PIL is preferred automatically when the environment has it). ``decode_media_stats`` uses it for any payload whose magic
bytes identify an image; payloads that are not images (e.g. text packed
as binary for plumbing tests) fall through to a deterministic
length-derived pseudo-stat so the operator is total — no crash, and
non-image behavior stays oracle-checkable. ``resize_image_media`` is a
real decode -> nearest-neighbor resample -> PNG re-encode stage; video
frame sampling remains byte-window slicing (ffmpeg-class codecs are
genuinely out of scope without a media library — that path raises
rather than faking pixels, see codecs.decode_image).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id bigint, payload binary, media_type string, source string"


def to_media_column(
    df: DataFrame, payload_col: str, id_col: str, media_type: str = "image/fake", source_col: str | None = None
) -> DataFrame:
    """Pack an arbitrary column as an opaque binary media payload with
    typed metadata — the ingestion shape for multimodal data."""
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        F.encode(F.col(payload_col).cast("string"), "UTF-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
        (F.col(source_col) if source_col else F.lit("inline")).alias("source"),
    )


def decode_media_stats(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched decode stage: (media_id, n_bytes, width, height).

    Real decode: payloads whose magic bytes identify an image
    (PNG/BMP/JPEG/GIF) get their true dimensions via ``llm.codecs``
    (library-free header/pixel parse; PIL when available).
    Non-image payloads fall back to a deterministic length-derived
    pseudo-stat — the operator is total over arbitrary binary, which is
    what a 100 TB ingest needs (one corrupt payload must not kill the
    stage).

    ``mapInPandas`` keeps the decode embarrassingly parallel and
    streaming per partition — no collect, no driver involvement. The
    closure gets the codecs from ``codecs.codec_loader``: its ``load``
    ships by value with the codec source and runs it on the executor,
    so the stage runs on executors that don't have this package on
    their PYTHONPATH.
    """

    from .codecs import codec_loader

    load_codecs = codec_loader()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ns = load_codecs()
        image_stats = ns["image_stats"]

        def _stats(payload: bytes) -> tuple[int, int, int]:
            n = len(payload)
            try:
                dims = image_stats(bytes(payload))
            except Exception:  # recognized-but-unsupported variant
                dims = None
            if dims is not None:
                return n, dims[0], dims[1]
            # non-image payload: deterministic length-derived pseudo-dims
            return n, n % 640 + 16, (n * 7) % 480 + 16

        for pdf in batches:
            stats = pdf["payload"].map(_stats)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": stats.map(lambda t: t[0]),
                    "width": stats.map(lambda t: t[1]),
                    "height": stats.map(lambda t: t[2]),
                }
            )

    return media.mapInPandas(decode, schema="media_id bigint, n_bytes bigint, width bigint, height bigint")


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched audio decode stage: (media_id, n_bytes,
    sample_rate, channels, n_frames, duration_ms, rms) — REAL RIFF/PCM
    WAV decode via ``llm.codecs``; non-audio or unsupported payloads
    yield nulls for the audio columns instead of failing the stage
    (total over arbitrary binary, like decode_media_stats). Same
    executor-shipping pattern: the codecs come from ``codec_loader``."""
    from .codecs import codec_loader

    load_codecs = codec_loader()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ns = load_codecs()
        decode_wav = ns["decode_wav"]

        for pdf in batches:
            out = {
                "media_id": [], "n_bytes": [], "sample_rate": [], "channels": [],
                "n_frames": [], "duration_ms": [], "rms": [],
            }
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                out["media_id"].append(int(media_id))
                out["n_bytes"].append(len(b))
                try:
                    samples, rate = decode_wav(b)
                    s = samples.astype(np.float64)
                    out["sample_rate"].append(rate)
                    out["channels"].append(samples.shape[1])
                    out["n_frames"].append(samples.shape[0])
                    out["duration_ms"].append(1000.0 * samples.shape[0] / rate)
                    out["rms"].append(float(np.sqrt((s * s).mean())) if s.size else 0.0)
                except Exception:
                    for c in ("sample_rate", "channels", "n_frames", "duration_ms", "rms"):
                        out[c].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        decode,
        schema=(
            "media_id bigint, n_bytes bigint, sample_rate int, channels int, "
            "n_frames bigint, duration_ms double, rms double"
        ),
    )


def resize_image_media(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL image resize: decode pixels (PNG/BMP/JPEG/GIF via
    llm.codecs — PIL when available), nearest-neighbor resample to ``out_w`` x ``out_h``,
    re-encode as PNG — (media_id, payload, media_type, orig_width,
    orig_height, channels, ok).

    Non-decodable payloads pass through with ``ok=false`` and a null
    payload instead of failing the stage (total over arbitrary binary).
    Arrow-batched ``mapInPandas``: per-item pixel work scales with
    partitions; batch memory is bounded by the decoded image sizes, so
    pair with a bytes cap upstream (resize_media) when payloads are
    untrusted."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("output dimensions must be positive")

    from .codecs import codec_loader

    load_codecs = codec_loader()

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ns = load_codecs()
        decode_image, encode_png, resize_nearest = (
            ns["decode_image"], ns["encode_png"], ns["resize_nearest"]
        )

        for pdf in batches:
            out_rows = {
                "media_id": [], "payload": [], "media_type": [],
                "orig_width": [], "orig_height": [], "channels": [], "ok": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    px = decode_image(bytes(payload))
                    if px.ndim == 2:
                        px = px[:, :, None]
                    resized = resize_nearest(px, out_w, out_h)
                    out_rows["payload"].append(encode_png(resized))
                    out_rows["orig_width"].append(px.shape[1])
                    out_rows["orig_height"].append(px.shape[0])
                    out_rows["channels"].append(px.shape[2])
                    out_rows["ok"].append(True)
                except Exception:
                    out_rows["payload"].append(None)
                    out_rows["orig_width"].append(None)
                    out_rows["orig_height"].append(None)
                    out_rows["channels"].append(None)
                    out_rows["ok"].append(False)
                out_rows["media_id"].append(mid)
                out_rows["media_type"].append("image/png")
            yield pd.DataFrame(out_rows)

    return media.mapInPandas(
        work,
        schema=(
            "media_id bigint, payload binary, media_type string, "
            "orig_width int, orig_height int, channels int, ok boolean"
        ),
    )


def sample_frames(
    media: DataFrame,
    frame_bytes: int = 256,
    max_frames: int = 8,
) -> DataFrame:
    """Frame sampling for video-ish payloads: up to ``max_frames``
    evenly-spaced byte windows per media item —
    (media_id, frame_idx, frame_offset, frame_len, frame_payload).

    Pure JVM plan (sequence + posexplode + binary substring): the
    fan-out and slicing need no Python at all; a real video pipeline
    replaces the byte windows with an ffmpeg keyframe decode inside a
    mapInPandas stage downstream (see decode_media_stats for the
    pattern). Offsets are deterministic arithmetic on payload size, so
    the sampling plan itself is oracle-checkable.
    """
    if frame_bytes <= 0 or max_frames <= 0:
        raise ValueError("frame_bytes and max_frames must be positive")
    n = F.length("payload").cast("bigint")  # bytes, not chars, for binary
    n_frames = F.least(
        F.lit(max_frames).cast("bigint"),
        F.greatest(F.lit(1).cast("bigint"), F.ceil(n / F.lit(frame_bytes)).cast("bigint")),
    )
    stride = (n / n_frames).cast("bigint")  # floor: n_frames*stride <= n
    frames = media.select(
        "media_id",
        F.col("payload"),
        n.alias("__n"),
        stride.alias("__stride"),
        F.posexplode(F.sequence(F.lit(0).cast("bigint"), n_frames - 1)).alias("frame_idx", "__i"),
    )
    offset = F.col("__i") * F.col("__stride")
    flen = F.least(F.lit(frame_bytes).cast("bigint"), F.col("__n") - offset)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        offset.alias("frame_offset"),
        flen.alias("frame_len"),
        F.expr(f"substring(payload, __i * __stride + 1, {frame_bytes})").alias("frame_payload"),
    )


def resize_media(media: DataFrame, max_bytes: int = 1024) -> DataFrame:
    """Resize/downscale stage (stub codec): payloads above ``max_bytes``
    are truncated, metadata records original + resized sizes —
    (media_id, payload, media_type, source, orig_bytes, resized).

    A real pipeline swaps the byte truncation for PIL ``Image.resize``
    / ffmpeg scale inside a mapInPandas stage; the stub keeps the
    operator pure-JVM (binary substring — no Python) so the
    size-bounding semantics are oracle-checkable: downstream batch
    memory is capped at |rows| x max_bytes, which is the production
    point of a resize stage."""
    if max_bytes <= 0:
        raise ValueError("max_bytes must be positive")
    n = F.length("payload").cast("bigint")
    return media.select(
        "media_id",
        F.expr(f"substring(payload, 1, {max_bytes})").alias("payload"),
        "media_type",
        "source",
        n.alias("orig_bytes"),
        (n > max_bytes).alias("resized"),
    )


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction: (media_id, features array<bigint>)
    — a folded byte histogram (byte value mod ``dim``, counted), the
    deterministic STUB standing in for a real embedding model. The
    plumbing is the production shape: vectorized numpy over Arrow
    batches, one output row per item, features as a fixed-width array
    column ready for the similarity operators. Self-contained closure."""
    if dim <= 0:
        raise ValueError("dim must be positive")

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                b = np.frombuffer(payload or b"", dtype=np.uint8)
                out.append(np.bincount(b % dim, minlength=dim).astype("int64").tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": out})

    return media.mapInPandas(feats, schema="media_id bigint, features array<bigint>")


def decode_gif_frame_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched ANIMATION decode stage: one row per composed GIF
    frame — (media_id, frame_idx, n_frames, delay_cs, width, height,
    pixel_sum) — via the from-spec multi-frame decoder (GCE delays,
    transparency, disposal compositing). Non-GIF / undecodable payloads
    yield ONE row with null frame columns instead of failing the stage
    (total over arbitrary binary, like decode_audio_stats). This is the
    real-codec counterpart of the byte-window ``sample_frames``: where
    that stage slices bytes, this one yields actual composed frames —
    the shape a keyframe-extraction pipeline consumes. Same
    executor-shipping pattern: the codecs come from ``codec_loader``."""
    from .codecs import codec_loader

    load_codecs = codec_loader()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ns = load_codecs()
        decode_gif_frames = ns["decode_gif_frames"]

        for pdf in batches:
            out = {
                "media_id": [], "frame_idx": [], "n_frames": [], "delay_cs": [],
                "width": [], "height": [], "pixel_sum": [],
            }
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                mid = int(media_id)
                try:
                    frames = decode_gif_frames(b)
                    for fi, (delay, px) in enumerate(frames):
                        out["media_id"].append(mid)
                        out["frame_idx"].append(fi)
                        out["n_frames"].append(len(frames))
                        out["delay_cs"].append(delay)
                        out["width"].append(px.shape[1])
                        out["height"].append(px.shape[0])
                        out["pixel_sum"].append(int(px.astype(np.int64).sum()))
                except Exception:
                    out["media_id"].append(mid)
                    for c in ("frame_idx", "n_frames", "delay_cs", "width", "height", "pixel_sum"):
                        out[c].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        decode,
        schema=(
            "media_id bigint, frame_idx int, n_frames int, delay_cs int, "
            "width int, height int, pixel_sum bigint"
        ),
    )
