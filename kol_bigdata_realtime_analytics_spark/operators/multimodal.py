"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a typed
metadata struct. The decode / feature-extract step is a `mapInPandas`
Arrow-batched operator with TWO interchangeable codecs per op:

- real  : Pillow (decode/resize) / PyAV (frame sampling), import-guarded —
  selected automatically the moment the library is installed.
- stub  : deterministic fake dimensions derived from byte length — what runs
  in this container (no image/audio libs) and what the registered oracle
  queries PIN via codec="stub" (their payloads are utf-8 text, and their
  DuckDB oracles encode the stub arithmetic; auto-flipping them would break
  the hash the day a lib appears).

At 100 TB the pattern matters more than the codec: mapInPandas streams Arrow
record batches through the Python worker without per-row pickling, binary
payloads never shuffle (feature extraction happens before any groupBy), and
the output schema is fixed so downstream stages stay columnar.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _av_available() -> bool:
    try:
        import av  # noqa: F401

        return True
    except ImportError:
        return False


def _choose(codec: str, available: bool, real_fn, stub_fn):
    """codec='auto'|'real'|'stub' -> the decode fn; 'real' without the lib
    is an explicit error, never a silent stub fallback."""
    if codec == "real" and not available:
        raise RuntimeError(
            "codec='real' requested but the decoding library is not importable"
        )
    if codec not in ("auto", "real", "stub"):
        raise ValueError(f"unknown codec {codec!r}")
    return real_fn if (codec == "real" or (codec == "auto" and available)) else stub_fn

#: output schema of the (stub) decoder — what a real image decoder would emit
DECODE_SCHEMA = (
    "doc_id long, byte_len long, width long, height long, n_frames long"
)


def with_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Pack a text column as utf-8 binary + metadata struct (mime, byte_len).

    Stand-in for reading real image/audio bytes; the engine-side handling
    (binary column + struct metadata) is exactly what production would use.
    """
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.col(text_col)).cast("long").alias("byte_len"),
        ).alias("meta"),
    )


def _decode_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB decoder: a real implementation would `PIL.Image.open(BytesIO(b))`
    / `av.open` here. This container has no image/audio libs, so we emit
    deterministic fake dimensions derived from the byte length — the Arrow
    batch shape, schema, and iteration pattern are the real thing."""
    for pdf in batches:
        byte_len = pdf["payload"].map(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "byte_len": byte_len,
                "width": byte_len % 640,
                "height": (byte_len * 7) % 480,
                "n_frames": byte_len % 16,
            }
        )


def _decode_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real image decode via Pillow: width/height from the codec header,
    n_frames for multi-frame formats (GIF/TIFF). Undecodable payloads emit
    zero dimensions rather than failing the task (corrupt-input tolerance —
    at 100 TB some payloads WILL be garbage)."""
    from io import BytesIO

    from PIL import Image

    for pdf in batches:
        byte_len, widths, heights, n_frames = [], [], [], []
        for b in pdf["payload"]:
            data = bytes(b)
            byte_len.append(len(data))
            try:
                with Image.open(BytesIO(data)) as img:
                    widths.append(int(img.width))
                    heights.append(int(img.height))
                    n_frames.append(int(getattr(img, "n_frames", 1)))
            except Exception:
                widths.append(0)
                heights.append(0)
                n_frames.append(0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "byte_len": pd.Series(byte_len, dtype="int64"),
                "width": pd.Series(widths, dtype="int64"),
                "height": pd.Series(heights, dtype="int64"),
                "n_frames": pd.Series(n_frames, dtype="int64"),
            }
        )


def decode_features(df: DataFrame, codec: str = "auto") -> DataFrame:
    """Run the Arrow-batched decode operator over (doc_id, payload) rows.

    Repartitioned first: decode is CPU-bound per row, so a coarse input (one
    file split) must spread across cores/executors before the Python stage.
    codec='auto' uses Pillow when importable, else the stub.
    """
    fn = _choose(codec, _pil_available(), _decode_real, _decode_stub)
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select("doc_id", "payload")
        .repartition(par)
        .mapInPandas(fn, schema=DECODE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Resize — per-item transform, payload stays binary end-to-end
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = "doc_id long, out_len long, width long, height long"
#: resize_images' output width and height, in pixels.
_RESIZE_PX = 64


def _resize_stub(target_w: int, target_h: int):
    """STUB resizer: a real one would decode, `img.resize((w, h))`, re-encode.
    Here the payload is byte-sliced to the target budget (deterministic) —
    the Arrow batch path and the byte-handling in pandas are the real part."""
    cap = max(1, (target_w * target_h) // 8)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["payload"].map(lambda b: bytes(b)[:cap])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "out_len": resized.map(len).astype("int64"),
                    "width": pd.Series([target_w] * len(pdf), dtype="int64"),
                    "height": pd.Series([target_h] * len(pdf), dtype="int64"),
                }
            )

    return fn


def _resize_real(target_w: int, target_h: int):
    """Real resize via Pillow: decode -> LANCZOS resize -> PNG re-encode;
    out_len is the re-encoded byte size. Undecodable payloads emit 0."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from io import BytesIO

        from PIL import Image

        for pdf in batches:
            out_lens = []
            for b in pdf["payload"]:
                try:
                    with Image.open(BytesIO(bytes(b))) as img:
                        buf = BytesIO()
                        img.resize((target_w, target_h), Image.LANCZOS).save(buf, "PNG")
                        out_lens.append(buf.tell())
                except Exception:
                    out_lens.append(0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "out_len": pd.Series(out_lens, dtype="int64"),
                    "width": pd.Series([target_w] * len(pdf), dtype="int64"),
                    "height": pd.Series([target_h] * len(pdf), dtype="int64"),
                }
            )

    return fn


def resize_images(df: DataFrame, codec: str = "auto") -> DataFrame:
    """Arrow-batched resize over (doc_id, payload) rows."""
    fn = _choose(
        codec,
        _pil_available(),
        _resize_real(_RESIZE_PX, _RESIZE_PX),
        _resize_stub(_RESIZE_PX, _RESIZE_PX),
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select("doc_id", "payload")
        .repartition(par)
        .mapInPandas(fn, schema=RESIZE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Frame sampling — one input row fans out to 0..n frame rows (UDTF shape)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = "doc_id long, frame_idx long, frame_len long"
#: sample_frames keeps every _FRAME_EVERY-th frame.
_FRAME_EVERY = 4


def _frame_sample_stub(every_n: int):
    """STUB frame sampler: a real one would `av.open` and decode every Nth
    frame. Frame count is the same deterministic fake as the decoder
    (byte_len % 16); each emitted row is one sampled frame. Demonstrates the
    1-to-many mapInPandas shape (explode-like, but computed Python-side)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs, idxs, lens = [], [], []
            for doc, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = n % 16
                if n_frames == 0:
                    continue
                frame_len = n // n_frames
                for i in range(0, n_frames, every_n):
                    docs.append(int(doc))
                    idxs.append(i)
                    lens.append(frame_len)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(docs, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                }
            )

    return fn


def _frame_sample_real(every_n: int):
    """Real frame sampling via PyAV: demux the container, keep every Nth
    video frame's packed size. Unreadable payloads contribute no rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from io import BytesIO

        import av

        for pdf in batches:
            docs, idxs, lens = [], [], []
            for doc, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    with av.open(BytesIO(bytes(payload))) as container:
                        for i, frame in enumerate(container.decode(video=0)):
                            if i % every_n == 0:
                                docs.append(int(doc))
                                idxs.append(i)
                                lens.append(int(frame.width * frame.height))
                except Exception:
                    continue
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(docs, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                }
            )

    return fn


def sample_frames(df: DataFrame, codec: str = "auto") -> DataFrame:
    """Every-Nth-frame sampling over (doc_id, payload) rows."""
    fn = _choose(
        codec, _av_available(), _frame_sample_real(_FRAME_EVERY), _frame_sample_stub(_FRAME_EVERY)
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select("doc_id", "payload")
        .repartition(par)
        .mapInPandas(fn, schema=FRAME_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Feature extraction — payload -> fixed-width embedding (the bridge from
# multimodal columns into the similarity-search operators)
# ---------------------------------------------------------------------------

EMBED_DIM = 8
EMBED_SCHEMA = "doc_id long, " + ", ".join(f"e{i} double" for i in range(EMBED_DIM))


def _embed_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB feature extractor: a real one would run a vision/audio encoder
    per Arrow batch (model broadcast once per worker). Emits a deterministic
    md5-derived pseudo-embedding in [0, 1]^8 — exactly reproducible in SQL,
    so the whole Python crossing is oracle-checked."""
    import hashlib

    for pdf in batches:
        hexes = pdf["payload"].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
        out = {"doc_id": pdf["doc_id"].astype("int64")}
        for i in range(EMBED_DIM):
            out[f"e{i}"] = hexes.map(lambda h, i=i: int(h[2 * i : 2 * i + 2], 16) / 255.0)
        yield pd.DataFrame(out)


def embed_payload(df: DataFrame) -> DataFrame:
    """Arrow-batched payload -> embedding columns (e0..e7)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select("doc_id", "payload")
        .repartition(par)
        .mapInPandas(_embed_stub, schema=EMBED_SCHEMA)
    )
