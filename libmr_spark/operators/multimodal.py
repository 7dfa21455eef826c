"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed through Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schema, partition sizing, UDF signatures,
batch shapes — is real and tested. Codecs are probed at import:

* ``mode='fake'`` — deterministic pseudo-decodes derived from the
  payload bytes (always available; what the oracle queries use);
* ``mode='real'`` — uses PIL (images), the ``ffmpeg`` binary (video
  frames), soundfile or the stdlib ``wave`` module (audio) when
  present; raises ``NotImplementedError`` naming the missing library
  and the pip/apt incantation otherwise. Install-and-go: nothing else
  changes — schemas and batching are identical in both modes.

At scale: payloads ride in the row (parquet binary) only when small;
the schema carries a ``uri`` column for externalized blobs so the same
operators work with pointer-style storage, and batch size is bounded
by rows AND bytes (``spark.sql.execution.arrow.maxRecordsPerBatch`` +
per-batch byte budget below) to keep executor memory flat.
"""

from __future__ import annotations

import hashlib
import shutil
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.builder import _records

# -- codec availability, probed once at import ------------------------
try:
    from PIL import Image as _PIL_Image  # noqa: N811

    HAS_PIL = True
except ImportError:
    _PIL_Image = None
    HAS_PIL = False

try:
    import soundfile as _soundfile

    HAS_SOUNDFILE = True
except ImportError:
    _soundfile = None
    HAS_SOUNDFILE = False

FFMPEG_BIN = shutil.which("ffmpeg")
HAS_FFMPEG = FFMPEG_BIN is not None


def _require(available: bool, what: str, how: str) -> None:
    if not available:
        raise NotImplementedError(
            f"real decode requires {what}, which is not installed in this "
            f"environment; install it ({how}) and re-run — no code changes needed"
        )

MEDIA_SCHEMA = (
    "media_id bigint, kind string, uri string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int, codec:string>"
)

# soft byte budget per emitted pandas batch (decode outputs are larger
# than inputs; bound them so an Arrow batch can't blow the heap)
MAX_BATCH_BYTES = 64 * 1024 * 1024


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Derive a deterministic media table from documents: payload =
    utf-8 bytes of the text, metadata derived from payload length.
    This stands in for a real (id, binary, meta) ingest."""
    payload = F.encode(F.col(text_col), "UTF-8")
    n = F.length(payload)
    return df.select(
        F.col(id_col).alias("media_id"),
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.concat(F.lit("mem://doc/"), F.col(id_col).cast("string")).alias("uri"),
        payload.alias("payload"),
        F.struct(
            (n % 64 + 1).cast("int").alias("width"),
            (n % 48 + 1).cast("int").alias("height"),
            (n % 16 + 1).cast("int").alias("n_frames"),
            F.lit(16000).cast("int").alias("sample_rate"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


def _fake_pixels(payload: bytes, width: int, height: int) -> list[int]:
    """Deterministic stand-in for a codec: stretch the payload digest
    over width*height 'pixels'."""
    digest = hashlib.sha256(payload).digest()
    npix = width * height
    return [digest[i % len(digest)] for i in range(min(npix, 256))]


def decode_images(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Decode image payloads → fixed-shape feature rows.

    Output schema: media_id, width, height, n_pixels, mean_pixel,
    phash (hex). ``mode='real'`` decodes with PIL when installed, else
    the stdlib PNG codec (``functions/png.py``) for PNG payloads — a
    REAL decode with zero dependencies, same design as the ``wave``
    fallback in :func:`audio_features`; non-PNG payloads without PIL
    raise NotImplementedError naming it.
    """
    out_schema = "media_id bigint, width int, height int, n_pixels bigint, mean_pixel double, phash string"

    def decode_one(rec: dict) -> dict:
        payload = bytes(rec["payload"])
        if mode == "real" and HAS_PIL:
            import io

            img = _PIL_Image.open(io.BytesIO(payload)).convert("L")
            w, h = img.size
            px = list(img.getdata())
            # 8×8 average-hash over the grayscale thumbnail
            thumb = list(img.resize((8, 8)).getdata())
            avg = sum(thumb) / 64
            phash = f"{sum(1 << i for i, p in enumerate(thumb) if p >= avg):016x}"
        elif mode == "real":
            from ..functions.png import SIGNATURE, png_decode, resize_nearest, to_grayscale

            _require(
                payload[:8] == SIGNATURE,
                "Pillow (payload is not PNG; the stdlib fallback decodes PNG only)",
                "pip install Pillow",
            )
            w, h, ch, raw = png_decode(payload)
            px = list(to_grayscale(w, h, ch, raw))
            thumb = list(resize_nearest(w, h, 1, bytearray(px), 8, 8))
            avg = sum(thumb) / 64
            phash = f"{sum(1 << i for i, p in enumerate(thumb) if p >= avg):016x}"
        else:
            w, h = rec["meta"]["width"], rec["meta"]["height"]
            px = _fake_pixels(payload, w, h)
            phash = hashlib.sha256(payload).hexdigest()[:16]
        return {
            "media_id": rec["media_id"],
            "width": w,
            "height": h,
            "n_pixels": w * h,
            "mean_pixel": round(sum(px) / len(px), 6),
            "phash": phash,
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, nbytes = [], 0
            for _err, rec in _records(pdf):
                rows.append(decode_one(rec))
                nbytes += len(rec["payload"])
                if nbytes >= MAX_BATCH_BYTES:
                    yield pd.DataFrame(rows)
                    rows, nbytes = [], 0
            if rows:
                yield pd.DataFrame(rows)

    return df.filter(F.col("kind") == "image").mapInPandas(run, schema=out_schema)


def resize_images(df: DataFrame, target_w: int, target_h: int, mode: str = "fake") -> DataFrame:
    """Resize step: payload → payload of the target 'resolution'.
    Fake mode truncates/pads the payload deterministically; real mode
    is PIL ``Image.resize`` → PNG bytes when PIL is installed, else
    stdlib PNG decode → nearest-neighbor resample → stdlib PNG encode
    (PNG payloads only; the two real sub-paths agree on schema and
    shape, not pixel values — resampling kernels differ). Schema and
    batching are identical in all modes."""
    out_schema = "media_id bigint, width int, height int, payload binary"
    target = target_w * target_h

    def resize_one(payload: bytes) -> bytes:
        if mode == "real" and HAS_PIL:
            import io

            img = _PIL_Image.open(io.BytesIO(payload)).resize((target_w, target_h))
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            return buf.getvalue()
        if mode == "real":
            from ..functions.png import (
                SIGNATURE,
                png_decode,
                png_encode,
                resize_nearest,
            )

            _require(
                payload[:8] == SIGNATURE,
                "Pillow (payload is not PNG; the stdlib fallback decodes PNG only)",
                "pip install Pillow",
            )
            w, h, ch, raw = png_decode(payload)
            resized = resize_nearest(w, h, ch, raw, target_w, target_h)
            return png_encode(target_w, target_h, bytes(resized), ch)
        return (payload * (target // max(len(payload), 1) + 1))[:target]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _err, rec in _records(pdf):
                rows.append(
                    {
                        "media_id": rec["media_id"],
                        "width": target_w,
                        "height": target_h,
                        "payload": resize_one(bytes(rec["payload"])),
                    }
                )
            yield pd.DataFrame(rows)

    return df.filter(F.col("kind") == "image").mapInPandas(run, schema=out_schema)


def _y4m_frames(payload: bytes):
    """Parse a YUV4MPEG2 (Y4M) stream — the uncompressed interchange
    format ffmpeg itself reads/writes — and yield raw frame bytes.
    Stream layout (published spec): ``YUV4MPEG2 W<w> H<h> ...\\n`` then
    per frame ``FRAME[params]\\n`` + w·h·3/2 bytes (4:2:0, the default
    and only subsampling supported here)."""
    nl = payload.index(b"\n")
    header = payload[:nl].split(b" ")
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a Y4M stream")
    w = h = None
    for tok in header[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C" and not tok[1:].startswith(b"420"):
            raise NotImplementedError(f"Y4M subsampling {tok!r} (only C420* supported)")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    # 4:2:0 chroma planes are ceil(w/2)*ceil(h/2) each — w*h*3//2 is
    # wrong for odd dimensions and would desynchronize the FRAME scan
    fsize = w * h + 2 * ((w + 1) // 2) * ((h + 1) // 2)
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt Y4M: expected FRAME marker")
        frame = payload[fnl + 1 : fnl + 1 + fsize]
        if len(frame) < fsize:
            raise ValueError(
                f"truncated Y4M: frame has {len(frame)} of {fsize} bytes"
            )
        yield frame
        pos = fnl + 1 + fsize


def sample_video_frames(df: DataFrame, every_nth: int = 2, mode: str = "fake") -> DataFrame:
    """Frame sampling: one output row per sampled frame (1→N mapInPandas,
    the shape a real ffmpeg-backed sampler produces). Real mode shells
    out to the ``ffmpeg`` binary per payload (the standard executor-side
    pattern for containerized codecs) when the binary exists; without
    it, Y4M payloads (the uncompressed format ffmpeg emits) are parsed
    by the stdlib :func:`_y4m_frames` — a real frame extraction with no
    dependency, completing the stdlib-fallback triple (PNG images, WAV
    audio, Y4M video). Non-Y4M payloads without ffmpeg raise naming it."""
    out_schema = "media_id bigint, frame_idx int, frame_bytes binary"

    def real_frames(media_id, payload: bytes):
        import subprocess
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".mp4") as src, tempfile.TemporaryDirectory() as outdir:
            src.write(payload)
            src.flush()
            subprocess.run(
                [FFMPEG_BIN, "-v", "error", "-i", src.name,
                 "-vf", f"select=not(mod(n\\,{every_nth}))", "-vsync", "vfr",
                 f"{outdir}/f%06d.jpg"],
                check=True,
            )
            import os

            for j, name in enumerate(sorted(os.listdir(outdir))):
                with open(f"{outdir}/{name}", "rb") as fh:
                    yield {"media_id": media_id, "frame_idx": j * every_nth, "frame_bytes": fh.read()}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _err, rec in _records(pdf):
                payload = bytes(rec["payload"])
                if mode == "real" and HAS_FFMPEG:
                    rows.extend(real_frames(rec["media_id"], payload))
                    continue
                if mode == "real":
                    _require(
                        payload[:9] == b"YUV4MPEG2",
                        "the ffmpeg binary (payload is not Y4M; the stdlib fallback parses Y4M only)",
                        "apt-get install ffmpeg",
                    )
                    for j, fb in enumerate(_y4m_frames(payload)):
                        if j % every_nth == 0:
                            rows.append(
                                {"media_id": rec["media_id"], "frame_idx": j, "frame_bytes": fb}
                            )
                    continue
                n_frames = rec["meta"]["n_frames"]
                for i in range(0, n_frames, every_nth):
                    start = (i * 7) % max(len(payload) - 8, 1)
                    rows.append(
                        {"media_id": rec["media_id"], "frame_idx": i, "frame_bytes": payload[start : start + 8]}
                    )
            yield pd.DataFrame(rows)

    return df.filter(F.col("kind") == "video").mapInPandas(run, schema=out_schema)


def audio_features(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Audio feature extraction (duration, 'loudness') from payload +
    sample-rate metadata. Real mode decodes with soundfile when
    installed, else the stdlib ``wave`` module for WAV payloads — so
    the real path is exercisable even codec-less (pinned by
    test_audio_features_real_wav)."""
    out_schema = "media_id bigint, sample_rate int, duration_s double, loudness double"

    def real_features(rec: dict) -> dict:
        import io

        payload = bytes(rec["payload"])
        if HAS_SOUNDFILE:
            data, sr = _soundfile.read(io.BytesIO(payload))
            samples = [abs(float(x)) for x in data[:4096].flatten()]
            dur = len(data) / sr
        else:  # stdlib WAV fallback — a real decode, no dependency
            import struct
            import wave

            with wave.open(io.BytesIO(payload)) as w:
                sr = w.getframerate()
                n = w.getnframes()
                dur = n / sr
                width = w.getsampwidth()
                raw = w.readframes(min(n, 4096))
                fmt = {1: "b", 2: "h", 4: "i"}[width]
                vals = struct.unpack(f"<{len(raw) // width}{fmt}", raw)
                scale = float(2 ** (8 * width - 1))
                samples = [abs(v) / scale for v in vals]
        return {
            "media_id": rec["media_id"],
            "sample_rate": int(sr),
            "duration_s": dur,
            "loudness": sum(samples) / max(len(samples), 1),
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _err, rec in _records(pdf):
                if mode == "real":
                    rows.append(real_features(rec))
                    continue
                # Emit UNROUNDED doubles: Python round() is half-even,
                # which diverges from SQL's half-up at .5 boundaries
                # (duration is an exact multiple of 0.5 µs here, so the
                # boundary is hit constantly). Quantization is the
                # caller's job — see multimodal_audio_q, which scales to
                # integer micro-units with SQL-side HALF_UP semantics.
                payload = bytes(rec["payload"])
                sr = rec["meta"]["sample_rate"]
                rows.append(
                    {
                        "media_id": rec["media_id"],
                        "sample_rate": sr,
                        "duration_s": len(payload) / sr,
                        "loudness": sum(payload[:256]) / max(min(len(payload), 256), 1),
                    }
                )
            yield pd.DataFrame(rows)

    return df.filter(F.col("kind") == "audio").mapInPandas(run, schema=out_schema)
