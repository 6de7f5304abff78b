"""Multimodal columns: images/audio/video as opaque binary + metadata.

The Spark-side plumbing is real and tested — schema contract, Arrow
batch shape, size-aware repartitioning, ``mapInPandas`` feature
extraction. Image decode is REAL for PNG payloads: PIL when it is
importable in the worker, else a pure-stdlib decoder (zlib inflate +
scanline unfiltering for filter types 0-4, gray/RGB/palette/alpha,
8-bit, non-interlaced) — both paths produce identical width/height/
mean-luma. Non-PNG payloads fall back to a deterministic digest stub
(documented; audio/video codecs are not in the container — swap the
fallback for soundfile/pyav in production, nothing else changes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakerulegeneration_spark.catalog import scan_size

# Contract for a multimodal asset table: payload + typed metadata.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "asset_id long, modality string, n_bytes long, sha256 string,"
    " width int, height int, mean_luma double, frames_sampled int"
)


def _spread_decode_rows(df: DataFrame) -> DataFrame:
    """Decode-parallelism guard (r13, guide §2.5 input skew): the asset
    synthesizers/decoders are per-row CPU-bound (encode+decode costs
    milliseconds per asset), but they ride a map-only plan over the
    input scan — a small local parquet scans as ONE split, serializing
    the whole decode onto one core (measured: video_frame_dhash ran as
    1 job / 1 task / 7 s at sf0.1). When the scan under-splits, spread
    the (thin, id-only) rows round-robin across the default
    parallelism: one ~8-byte row crosses the exchange per ~ms of
    decode. On a real cluster the scan yields >= cores splits and this
    is a no-op — the same gate `profiling.ensure_parallelism` uses."""
    target = df.sparkSession.sparkContext.defaultParallelism
    size = scan_size(df)
    if size is None or size.splits >= target:
        return df
    return df.repartition(target)


def make_assets_from_documents(docs: DataFrame, n: int | None = None) -> DataFrame:
    """Build a synthetic asset table from the documents fixture: text
    bytes stand in for encoded payloads (the plumbing under test is
    schema/partitioning/batching, not codecs)."""
    d = docs if n is None else docs.limit(n)
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png_gray(width: int, height: int, value: int) -> bytes:
    """Minimal REAL PNG encoder (stdlib zlib + crc32): a solid
    ``value``-gray 8-bit image. Used to build test/fixture payloads
    whose decoded features are known arithmetically."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([value]) * width for _ in range(height))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def extract_features(assets: DataFrame, frames_per_video: int = 4) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``mapInPandas`` (not a scalar UDF): each batch is one pandas
    DataFrame, so a real decoder can amortize setup per batch; output
    rows stay 1:1 with assets (frame sampling is metadata here).
    At scale, repartition by size bands first so one huge video
    doesn't skew a task (see :func:`repartition_by_payload_size`).

    PNG payloads are REALLY decoded (PIL when importable in the
    worker, else the pure-stdlib inflate+unfilter path — identical
    results); other formats fall back to the digest stub.

    The decoders are nested so cloudpickle ships them BY VALUE: a
    module-level helper would serialize as a reference to this package,
    which Python workers cannot import when the driver runs outside
    the repo (only nested functions + stdlib/site-packages references
    are safe inside worker-side closures).
    """

    def _luma_features(px) -> dict:
        # shared float path so PIL and pure decode agree bit-for-bit:
        # ITU-R 601 luma in double, mean over pixels, round 6dp
        import numpy as np

        a = np.asarray(px, dtype=np.float64)
        if a.ndim == 2:
            luma = a
        elif a.shape[2] == 1:
            luma = a[..., 0]
        elif a.shape[2] == 2:  # gray + alpha
            luma = a[..., 0]
        else:  # RGB / RGBA
            luma = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
        return {
            "width": int(a.shape[1]),
            "height": int(a.shape[0]),
            "mean_luma": round(float(luma.mean() / 255.0), 6),
        }

    def _decode_png_pure(payload: bytes) -> dict | None:
        # Real decode, stdlib-only: chunk walk → zlib inflate →
        # per-scanline unfilter (types 0-4) → pixel array. 8-bit,
        # non-interlaced, color types 0/2/3/4/6.
        import struct
        import zlib

        import numpy as np

        pos, ihdr, idat, plte = 8, None, b"", None
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"PLTE":
                plte = data
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None:
            return None
        w, h, depth, color, _comp, _filt, interlace = ihdr
        if depth != 8 or interlace != 0 or color not in (0, 2, 3, 4, 6):
            return None
        nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        stride = w * nch
        raw = zlib.decompress(idat)
        if len(raw) != h * (stride + 1):
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            f = raw[y * (stride + 1)]
            line = np.frombuffer(
                raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
            ).copy()
            if f == 0:
                cur = line
            elif f == 2:  # Up — vectorized, wraps mod 256 in uint8
                cur = line + prev
            else:  # Sub/Average/Paeth have intra-row dependence
                cur = line
                for x in range(stride):
                    a = int(cur[x - nch]) if x >= nch else 0
                    b = int(prev[x])
                    if f == 1:
                        cur[x] = (int(line[x]) + a) & 0xFF
                    elif f == 3:
                        cur[x] = (int(line[x]) + ((a + b) >> 1)) & 0xFF
                    elif f == 4:
                        c = int(prev[x - nch]) if x >= nch else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                        cur[x] = (int(line[x]) + pr) & 0xFF
                    else:
                        return None
            out[y] = cur
            prev = cur
        px = out.reshape(h, w, nch)
        if color == 3:  # palette lookup → RGB
            if plte is None:
                return None
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            px = pal[px[..., 0]]
        return _luma_features(px)

    def _decode_png_pil(payload: bytes) -> dict | None:
        try:
            import io

            from PIL import Image
        except ImportError:
            return None
        with Image.open(io.BytesIO(payload)) as img:
            if img.mode == "P":
                img = img.convert("RGB")  # palette indices → RGB, as pure path
            if img.mode not in ("L", "LA", "RGB", "RGBA"):
                return None  # 16-bit/1-bit etc: let the pure path decide
            return _luma_features(img)

    def _decode_one(payload: bytes) -> dict:
        if payload is None:
            raise NotImplementedError("real decode requires payload bytes")
        feats = None
        if payload.startswith(PNG_MAGIC):
            # a corrupt/truncated payload (bad IDAT, out-of-range
            # palette, PIL decode error) must fall through to the
            # digest stub, not kill the Spark task — one bad image in
            # a 100 TB corpus cannot be allowed to fail the job
            try:
                feats = _decode_png_pil(payload) or _decode_png_pure(payload)
            except Exception:
                feats = None
        if feats is None:
            # non-PNG (or exotic PNG) fallback: deterministic digest
            # stub — swap for soundfile/pyav per modality in production
            digest = hashlib.sha256(payload).digest()
            feats = {
                "width": 64 + digest[0] % 192,
                "height": 64 + digest[1] % 192,
                "mean_luma": round(digest[2] / 255.0, 6),
            }
        feats["sha256"] = hashlib.sha256(payload).hexdigest()
        return feats

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "sha256": [f["sha256"] for f in feats],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "mean_luma": [f["mean_luma"] for f in feats],
                    "frames_sampled": [
                        frames_per_video if m == "video" else 1
                        for m in pdf["modality"]
                    ],
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def make_png_assets_from_documents(docs: DataFrame) -> DataFrame:
    """Asset table with REAL PNG payloads: each doc_id becomes a solid
    gray image whose width/height/gray level are arithmetic functions
    of the id — so decoded features are verifiable by pure SQL. The
    encoder is nested (shipped by value into the workers) and mirrors
    :func:`encode_png_gray`."""
    from collections.abc import Iterator as _It

    def run(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        import struct
        import zlib

        magic = b"\x89PNG\r\n\x1a\n"

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        def png(w: int, h: int, v: int) -> bytes:
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(b"\x00" + bytes([v]) * w for _ in range(h))
            return magic + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "modality": "image",
                    "mime": "image/png",
                    "payload": [
                        png(4 + int(i) % 13, 4 + int(i) % 7, (int(i) * 37) % 256)
                        for i in ids
                    ],
                    "meta": [None] * len(ids),
                }
            )

    return _spread_decode_rows(docs.select("doc_id")).mapInPandas(run, schema=ASSET_SCHEMA)


WAV_MAGIC = b"RIFF"

AUDIO_FEATURE_SCHEMA = (
    "asset_id long, n_bytes long, sha256 string, sample_rate int,"
    " n_channels int, n_frames long, duration_ms long, rms double"
)


def encode_wav_pcm16(
    n_frames: int, sample_rate: int, amplitude: int, n_channels: int = 1
) -> bytes:
    """Minimal REAL WAV encoder (stdlib ``wave``): PCM16 frames whose
    samples alternate ``+amplitude``/``-amplitude`` per frame (same value
    in every channel), so the decoded RMS is exactly ``amplitude``.
    Used to build fixture payloads with arithmetically-known features."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(n_channels)
    w.setsampwidth(2)
    w.setframerate(sample_rate)
    samples = [
        (amplitude if i % 2 == 0 else -amplitude)
        for i in range(n_frames)
        for _ in range(n_channels)
    ]
    w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    w.close()
    return buf.getvalue()


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction: REAL decode for WAV
    payloads (stdlib ``wave`` header + PCM16 frame read — sample rate,
    channel count, frame count, duration, normalized RMS), digest stub
    for other formats (mp3/flac decoders are not in the container —
    swap the fallback for soundfile, nothing else changes). Same
    ``mapInPandas`` 1:1 shape as :func:`extract_features`; a corrupt
    payload falls back to the stub rather than failing the task.

    Decoders are nested so cloudpickle ships them by value (workers may
    not be able to import this package when the driver runs off-repo).
    """

    def _decode_wav(payload: bytes) -> dict | None:
        import io
        import wave

        import numpy as np

        with wave.open(io.BytesIO(payload), "rb") as r:
            if r.getsampwidth() != 2:
                return None
            n_frames = r.getnframes()
            rate = r.getframerate()
            x = np.frombuffer(r.readframes(n_frames), dtype="<i2").astype(np.float64)
            # RMS on the RAW int16 scale, rounded 6 dp: the fixture's
            # constant-|amplitude| signals give exact integer RMS, so
            # the SQL oracle reproduces it with no float-tie risk (a
            # normalized amp/2^15 can land exactly on a .xxxxxx5
            # decimal, where Python rounds half-even but SQL engines
            # round half-away)
            rms = float(np.sqrt((x**2).mean())) if x.size else 0.0
            return {
                "sample_rate": rate,
                "n_channels": r.getnchannels(),
                "n_frames": n_frames,
                "duration_ms": n_frames * 1000 // rate if rate else 0,
                "rms": round(rms, 6),
            }

    def _decode_one(payload: bytes) -> dict:
        if payload is None:
            raise NotImplementedError("real decode requires payload bytes")
        feats = None
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            try:
                feats = _decode_wav(payload)
            except Exception:
                feats = None
        if feats is None:
            import hashlib as _h

            d = _h.sha256(payload).digest()
            feats = {
                "sample_rate": 8000 + (d[0] % 8) * 1000,
                "n_channels": 1 + d[1] % 2,
                "n_frames": 100 + d[2],
                "duration_ms": (100 + d[2]) * 1000 // (8000 + (d[0] % 8) * 1000),
                "rms": round(d[3] / 255.0, 6),
            }
        return feats

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _h

        for pdf in batches:
            feats = [_decode_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "sha256": [_h.sha256(p).hexdigest() for p in pdf["payload"]],
                    "sample_rate": [f["sample_rate"] for f in feats],
                    "n_channels": [f["n_channels"] for f in feats],
                    "n_frames": [f["n_frames"] for f in feats],
                    "duration_ms": [f["duration_ms"] for f in feats],
                    "rms": [f["rms"] for f in feats],
                }
            )

    return assets.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


def make_wav_assets_from_documents(docs: DataFrame) -> DataFrame:
    """Asset table with REAL WAV payloads: each doc_id becomes a PCM16
    waveform whose rate/channels/frames/amplitude are arithmetic
    functions of the id, so every decoded feature is verifiable by pure
    SQL (the audio twin of :func:`make_png_assets_from_documents`)."""
    from collections.abc import Iterator as _It

    def run(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        import io
        import struct
        import wave

        def enc(n_frames: int, rate: int, amp: int, nch: int) -> bytes:
            buf = io.BytesIO()
            w = wave.open(buf, "wb")
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(rate)
            samples = [
                (amp if i % 2 == 0 else -amp)
                for i in range(n_frames)
                for _ in range(nch)
            ]
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
            w.close()
            return buf.getvalue()

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "modality": "audio",
                    "mime": "audio/wav",
                    "payload": [
                        enc(
                            100 + int(i) % 50,
                            8000 + (int(i) % 3) * 4000,
                            (int(i) * 37) % 10000,
                            1 + int(i) % 2,
                        )
                        for i in ids
                    ],
                    "meta": [None] * len(ids),
                }
            )

    return _spread_decode_rows(docs.select("doc_id")).mapInPandas(run, schema=ASSET_SCHEMA)


def repartition_by_payload_size(assets: DataFrame, target_mb: int = 64) -> DataFrame:
    """Skew guard: spread assets so each task sees ~target_mb of
    payload. Large blobs dominate task time; hashing on a size band +
    id keeps partitions balanced without a global sort."""
    bytes_per_part = target_mb * 1024 * 1024
    sized = assets.withColumn("__sz", F.coalesce(F.length("payload"), F.lit(0)))
    n = max(
        assets.sparkSession.sparkContext.defaultParallelism,
        int((sized.agg(F.sum("__sz")).first()[0] or 0) / bytes_per_part) + 1,
    )
    return sized.repartition(n, F.col("asset_id")).drop("__sz")


FRAME_SCHEMA = "asset_id long, frame_idx int, ts_ms long, frame_payload binary"


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling: one asset row → ``n_frames`` frame rows (the 1:N
    ``mapInPandas`` shape a real video pipeline needs — output batches
    are NOT 1:1 with input rows).

    Frames are spaced evenly across the asset's ``duration_ms`` (or
    index-spaced when unknown). The frame decode itself is STUBBED:
    deterministic fake frame bytes derived from (payload digest,
    frame index) — swap ``_fake_frame`` for a pyav/ffmpeg seek+decode;
    the plan shape, schema, and partitioning carry over unchanged.
    """

    def _fake_frame(payload: bytes, idx: int) -> bytes:
        if payload is None:
            raise NotImplementedError("real frame decode requires payload bytes")
        return hashlib.sha256(payload + idx.to_bytes(4, "big")).digest()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for aid, payload, dur in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta"].apply(lambda m: m["duration_ms"] if m is not None else None)
            ):
                step = (dur // n_frames) if dur else 1000
                for i in range(n_frames):
                    ids.append(aid)
                    idxs.append(i)
                    tss.append(i * step)
                    frames.append(_fake_frame(payload, i))
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "ts_ms": tss, "frame_payload": frames}
            )

    return assets.mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image hashing (dHash) + near-dup
# ---------------------------------------------------------------------------

# 7 column comparisons x 8 rows = 56 bits: the same width the SimHash
# family settled on (fits signed BIGINT, 4 banding bands of 14 bits).
DHASH_GX = 7
DHASH_GY = 8


def encode_png_gradient(width: int, height: int, a: int, b: int, c: int) -> bytes:
    """Minimal REAL PNG encoder for a grayscale GRADIENT image:
    pixel(x, y) = (a·x + b·y + c) mod 256 — unlike the solid-gray
    fixture, every pixel is position-dependent, so downstream
    perceptual hashes have nontrivial closed-form bits."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((a * x + b * y + c) % 256 for x in range(width))
        for y in range(height)
    )
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_gradient_assets_from_documents(docs: DataFrame) -> DataFrame:
    """Gradient-PNG asset table with PLANTED near-dup families: the
    gradient parameters and width derive from ``doc_id % 50`` (the
    family key), the height from ``doc_id % 3`` — so every family
    holds exact-duplicate images (same id mod 150) and near-duplicate
    images (same gradient, height off by 1-2 rows → a few dHash sample
    rows shift). The DuckDB oracle recomputes both the hash bits and
    the near-dup pairs from the same closed-form arithmetic."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import struct
        import zlib

        magic = b"\x89PNG\r\n\x1a\n"

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        def png(w: int, h: int, a: int, b: int, c: int) -> bytes:
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(
                b"\x00" + bytes((a * x + b * y + c) % 256 for x in range(w))
                for y in range(h)
            )
            return (
                magic
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        for pdf in batches:
            ids = pdf["doc_id"]
            payloads = []
            for i in ids:
                i = int(i)
                fid = i % 50
                # steep, family-varying slopes: a low-slope gradient
                # wraps mod 256 almost never at ~1px sample steps, so
                # every image's dHash is near-all-ones and EVERYTHING
                # cross-collides (the first fixture produced 96k
                # near-dup pairs from 500 images); slopes spread over
                # the byte range make bits ~Bernoulli(1/2) so only
                # same-family images land within hamming range
                payloads.append(
                    png(
                        8 + fid % 9,
                        8 + i % 3,
                        17 + 23 * (fid % 11),
                        29 + 31 * (fid % 7),
                        (fid * 37) % 256,
                    )
                )
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    return _spread_decode_rows(docs.select("doc_id")).mapInPandas(run, schema="asset_id long, payload binary")


def image_dhash(assets: DataFrame, gx: int = DHASH_GX, gy: int = DHASH_GY) -> DataFrame:
    """Perceptual difference hash (dHash) per image — the standard
    cheap near-dup fingerprint for image corpora (resampling survives
    re-encoding and small edits that break byte/sha dedup).

    Definition (POINT sampling, so the oracle is closed-form for
    generated fixtures): luma grid L; sample columns
    ``x_i = (i·W) // (gx+1)`` for i = 0..gx and rows
    ``y_j = (j·H) // gy`` for j = 0..gy−1; bit ``j·gx + i`` is 1 iff
    ``L[x_{i+1}, y_j] > L[x_i, y_j]``; hash = Σ bit·2^k (gx·gy ≤ 60
    bits → signed BIGINT, band-joinable by ``dedup.simhash_near_dups``).

    Arrow-batched ``mapInPandas``; PNG payloads really decode (PIL or
    the pure-stdlib path — identical grids), anything else falls back
    to a deterministic digest pseudo-hash like the feature extractor.
    Returns ``(asset_id, width, height, dhash)``.
    """
    if not 1 <= gx * gy <= 60:
        raise ValueError("gx*gy must be in [1, 60] (signed BIGINT hash)")

    def _luma_grid(px):
        import numpy as np

        arr = np.asarray(px, dtype=np.float64)
        if arr.ndim == 2:
            return arr
        if arr.shape[2] in (1, 2):  # gray / gray+alpha
            return arr[..., 0]
        return 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]

    def _pixels_pure(payload: bytes):
        # gray 8-bit filter-0/2 fast path (covers the gradient fixture);
        # anything else is PIL's job
        import struct
        import zlib

        import numpy as np

        pos, ihdr, idat = 8, None, b""
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None:
            return None
        w, h, depth, color, _comp, _filt, interlace = ihdr
        if depth != 8 or color != 0 or interlace != 0:
            return None
        raw = zlib.decompress(idat)
        if len(raw) != h * (w + 1):
            return None
        out = np.zeros((h, w), dtype=np.uint8)
        prev = np.zeros(w, dtype=np.uint8)
        for y in range(h):
            f = raw[y * (w + 1)]
            line = np.frombuffer(
                raw[y * (w + 1) + 1 : (y + 1) * (w + 1)], dtype=np.uint8
            ).copy()
            if f == 0:
                cur = line
            elif f == 2:
                cur = line + prev
            else:
                return None
            out[y] = cur
            prev = cur
        return out

    def _pixels_pil(payload: bytes):
        try:
            import io

            from PIL import Image
        except ImportError:
            return None
        with Image.open(io.BytesIO(payload)) as img:
            if img.mode == "P":
                img = img.convert("RGB")
            if img.mode not in ("L", "LA", "RGB", "RGBA"):
                return None
            return img

    def _dhash_one(payload: bytes) -> dict:
        import numpy as np

        if payload is None:
            raise NotImplementedError("dhash requires payload bytes")
        grid = None
        if payload.startswith(PNG_MAGIC):
            try:
                px = _pixels_pil(payload)
                grid = _luma_grid(px) if px is not None else None
                if grid is None:
                    px = _pixels_pure(payload)
                    grid = _luma_grid(px) if px is not None else None
            except Exception:
                grid = None
        if grid is None:
            # non-decodable: deterministic digest pseudo-hash (bounded
            # to the same bit width so banding still applies)
            d = hashlib.sha256(payload).digest()
            val = int.from_bytes(d[:8], "big") & ((1 << (gx * gy)) - 1)
            return {"width": 0, "height": 0, "dhash": val}
        h_, w_ = grid.shape
        xs = [(i * w_) // (gx + 1) for i in range(gx + 1)]
        ys = [(j * h_) // gy for j in range(gy)]
        val = 0
        for j, yj in enumerate(ys):
            for i in range(gx):
                if grid[yj, xs[i + 1]] > grid[yj, xs[i]]:
                    val |= 1 << (j * gx + i)
        return {"width": int(w_), "height": int(h_), "dhash": int(val)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_dhash_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": [o["width"] for o in out],
                    "height": [o["height"] for o in out],
                    "dhash": [o["dhash"] for o in out],
                }
            )

    return assets.mapInPandas(run, schema="asset_id long, width long, height long, dhash long")


def _dhash_closed_form_sql(id_expr: str, gx: int = DHASH_GX, gy: int = DHASH_GY) -> str:
    """Closed-form dHash of the gradient fixture as one SQL expression
    over the document id (mirrors make_gradient_assets_from_documents
    + image_dhash exactly: same params, same point sampling)."""
    w = f"(8 + ({id_expr}) % 50 % 9)"
    h = f"(8 + ({id_expr}) % 3)"
    a = f"(17 + 23 * (({id_expr}) % 50 % 11))"
    b = f"(29 + 31 * (({id_expr}) % 50 % 7))"
    c = f"((({id_expr}) % 50) * 37 % 256)"
    terms = []
    for j in range(gy):
        yj = f"(({j} * {h}) // {gy})"
        for i in range(gx):
            x1 = f"(({i} * {w}) // {gx + 1})"
            x2 = f"((({i + 1}) * {w}) // {gx + 1})"
            p1 = f"(({a} * {x1} + {b} * {yj} + {c}) % 256)"
            p2 = f"(({a} * {x2} + {b} * {yj} + {c}) % 256)"
            terms.append(
                f"(CASE WHEN {p2} > {p1} THEN CAST({1 << (j * gx + i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
    return "(" + " + ".join(terms) + ")"


def image_dhash_sql(table: str, id_col: str, gx: int = DHASH_GX, gy: int = DHASH_GY) -> str:
    """DuckDB oracle for image_dhash over the gradient fixture."""
    return f"""
SELECT {id_col} AS asset_id,
       CAST(8 + {id_col} % 50 % 9 AS BIGINT) AS width,
       CAST(8 + {id_col} % 3 AS BIGINT) AS height,
       {_dhash_closed_form_sql(id_col, gx, gy)} AS dhash
FROM {table}
"""


def image_near_dups_sql(
    table: str,
    id_col: str,
    max_hamming: int = 8,
    n_bands: int = 4,
    gx: int = DHASH_GX,
    gy: int = DHASH_GY,
) -> str:
    """DuckDB oracle for banded dHash near-dup pairs (the image twin of
    dedup.simhash_near_dups' banding: equal on ≥1 of n_bands bands →
    candidate, verified by bit_count(xor) ≤ max_hamming)."""
    bits = gx * gy
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = " UNION ALL ".join(
        f"SELECT id, dhash, {bnum} AS band, (dhash >> {width * bnum}) & {mask} AS bv FROM h"
        for bnum in range(n_bands)
    )
    return f"""
WITH h AS (
  SELECT {id_col} AS id, {_dhash_closed_form_sql(id_col, gx, gy)} AS dhash
  FROM {table}
),
long AS ({bands})
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.dhash, b.dhash)) AS hamming
FROM long a JOIN long b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# audio fingerprinting (RMS-envelope difference hash) + near-dup
# ---------------------------------------------------------------------------

# 56 bits = 57 RMS windows, mirroring the dHash/SimHash width so the
# same 4x14-bit band join applies.
AUDIO_FP_BITS = 56
AUDIO_FP_WINDOW = 32  # frames per RMS window


def make_envelope_wav_assets_from_documents(docs: DataFrame) -> DataFrame:
    """WAV asset table with PLANTED near-dup families for audio
    fingerprinting: each payload is a REAL PCM16 stream of 57 windows
    whose per-window amplitude follows a closed-form envelope of the
    family key ``doc_id % 50``; ``doc_id % 3`` boosts ONE window's
    amplitude, so same-family ids share all but ≤4 fingerprint bits
    (and ids equal mod 150 are byte-identical). The oracle recomputes
    both the bits and the near-dup pairs arithmetically."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import io
        import wave

        n_windows = AUDIO_FP_BITS + 1
        L = AUDIO_FP_WINDOW

        def amp(fid: int, boost_k: int, k: int) -> int:
            # steep, wrapping envelope: small coefficients make A(k)
            # monotone between rare wraps -> near-all-ones bits and
            # cross-family collisions (first fixture: 80k pairs from
            # 500 clips); coefficients >> 9000/step make every window
            # diff wrap, so bits are ~Bernoulli(1/2) per family
            a, b, c = 911 + 137 * (fid % 13), 701 + 157 * (fid % 17), (fid * 37) % 9000
            base = 1 + (a * (k + 1) * (k + 3) + b * k + c) % 9000
            return base + (3000 if k == boost_k else 0)

        import numpy as np

        signs = np.tile(np.array([1, -1], dtype=np.int16), n_windows * L // 2)

        def enc(i: int) -> bytes:
            fid, boost_k = i % 50, i % 3
            amps = np.array(
                [amp(fid, boost_k, k) for k in range(n_windows)], dtype=np.int16
            )
            # vectorized ±A alternation (a per-sample Python loop here
            # dominated the sf10 run at 500k clips)
            samples = np.repeat(amps, L) * signs
            buf = io.BytesIO()
            w = wave.open(buf, "wb")
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(samples.astype("<i2").tobytes())
            w.close()
            return buf.getvalue()

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {"asset_id": ids, "payload": [enc(int(i)) for i in ids]}
            )

    return _spread_decode_rows(docs.select("doc_id")).mapInPandas(run, schema="asset_id long, payload binary")


def audio_fingerprint(
    assets: DataFrame, window: int = AUDIO_FP_WINDOW, bits: int = AUDIO_FP_BITS
) -> DataFrame:
    """RMS-envelope difference hash per audio payload — the audio twin
    of :func:`image_dhash` (a chromaprint-lite: loudness-envelope
    SHAPE survives gain changes and re-encoding, which is why bit k
    compares consecutive windows instead of thresholding absolute
    levels; a uniform gain shifts every window equally and flips
    NOTHING).

    Definition: the first ``bits+1`` windows of ``window`` frames
    (all channels interleaved); ``rms_k`` over window k's samples
    (missing windows count 0); bit k = 1 iff ``rms_{k+1} > rms_k``;
    fingerprint = Σ bit·2^k — band-joinable by
    ``dedup.simhash_near_dups`` exactly like dHash and SimHash.
    Arrow-batched ``mapInPandas``; non-WAV payloads fall back to the
    digest pseudo-hash. Returns ``(asset_id, n_frames, fingerprint)``.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (signed BIGINT hash)")

    def _fp_wav(payload: bytes):
        import io
        import wave

        import numpy as np

        with wave.open(io.BytesIO(payload), "rb") as r:
            if r.getsampwidth() != 2:
                return None
            n_frames = r.getnframes()
            nch = r.getnchannels()
            x = np.frombuffer(r.readframes(n_frames), dtype="<i2").astype(np.float64)
        step = window * nch
        rms = []
        for k in range(bits + 1):
            seg = x[k * step : (k + 1) * step]
            rms.append(float(np.sqrt((seg**2).mean())) if seg.size else 0.0)
        val = 0
        for k in range(bits):
            if rms[k + 1] > rms[k]:
                val |= 1 << k
        return {"n_frames": int(n_frames), "fingerprint": int(val)}

    def _fp_one(payload: bytes) -> dict:
        if payload is None:
            raise NotImplementedError("fingerprint requires payload bytes")
        out = None
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            try:
                out = _fp_wav(payload)
            except Exception:
                out = None
        if out is None:
            d = hashlib.sha256(payload).digest()
            out = {
                "n_frames": 0,
                "fingerprint": int.from_bytes(d[:8], "big") & ((1 << bits) - 1),
            }
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_fp_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_frames": [o["n_frames"] for o in out],
                    "fingerprint": [o["fingerprint"] for o in out],
                }
            )

    return assets.mapInPandas(run, schema="asset_id long, n_frames long, fingerprint long")


def _audio_fp_closed_form_sql(id_expr: str, bits: int = AUDIO_FP_BITS) -> str:
    """Closed-form fingerprint of the envelope fixture (same arithmetic
    as make_envelope_wav_assets_from_documents + audio_fingerprint:
    per-window RMS of a ±A square alternation is exactly A)."""
    a = f"(911 + 137 * (({id_expr}) % 50 % 13))"
    b = f"(701 + 157 * (({id_expr}) % 50 % 17))"
    c = f"((({id_expr}) % 50) * 37 % 9000)"

    def amp(k: int) -> str:
        base = f"(1 + ({a} * {(k + 1) * (k + 3)} + {b} * {k} + {c}) % 9000)"
        return f"({base} + CASE WHEN ({id_expr}) % 3 = {k} THEN 3000 ELSE 0 END)"

    terms = [
        f"(CASE WHEN {amp(k + 1)} > {amp(k)} THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for k in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def audio_fingerprint_sql(table: str, id_col: str, bits: int = AUDIO_FP_BITS) -> str:
    """DuckDB oracle for audio_fingerprint over the envelope fixture."""
    return f"""
SELECT {id_col} AS asset_id,
       CAST({AUDIO_FP_BITS + 1} * {AUDIO_FP_WINDOW} AS BIGINT) AS n_frames,
       {_audio_fp_closed_form_sql(id_col, bits)} AS fingerprint
FROM {table}
"""


def audio_near_dups_sql(
    table: str,
    id_col: str,
    max_hamming: int = 8,
    n_bands: int = 4,
    bits: int = AUDIO_FP_BITS,
) -> str:
    """DuckDB oracle for banded audio-fingerprint near-dup pairs."""
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = " UNION ALL ".join(
        f"SELECT id, fp, {bnum} AS band, (fp >> {width * bnum}) & {mask} AS bv FROM h"
        for bnum in range(n_bands)
    )
    return f"""
WITH h AS (
  SELECT {id_col} AS id, {_audio_fp_closed_form_sql(id_col, bits)} AS fp
  FROM {table}
),
long AS ({bands})
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.fp, b.fp)) AS hamming
FROM long a JOIN long b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# video: frame container, frame sampling, per-frame perceptual hash
# ---------------------------------------------------------------------------

VIDEO_MAGIC = b"VID0"


def encode_video_container(frames: "list[bytes]") -> bytes:
    """Minimal length-prefixed frame container: ``VID0`` + u32 frame
    count + (u32 length, payload)* — the honest stand-in for a real
    codec (pyav is not in this container; a production swap changes
    ONLY the frame iterator, the Spark plumbing stays identical).
    Frames are PNG payloads, so per-frame decode is REAL."""
    import struct

    out = [VIDEO_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        out.append(struct.pack(">I", len(f)))
        out.append(f)
    return b"".join(out)


def make_video_assets_from_documents(docs: DataFrame, n_frames: int = 12) -> DataFrame:
    """Video asset table with PLANTED near-dup families: each doc_id
    becomes an ``n_frames``-frame container of gradient-PNG frames; the
    per-frame gradient params derive from (doc_id % 50, frame), and
    ``doc_id % 3`` REPLACES one frame with an unrelated one — so
    same-family videos share all but ≤1 frame (clip-level near-dups),
    with everything closed-form for the oracle."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import struct
        import zlib

        magic = b"\x89PNG\r\n\x1a\n"

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        def png(w: int, h: int, a: int, b: int, c: int) -> bytes:
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(
                b"\x00" + bytes((a * x + b * y + c) % 256 for x in range(w))
                for y in range(h)
            )
            return (
                magic
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        def frame(fid: int, k: int) -> bytes:
            return png(
                8 + fid % 9,
                8 + k % 3,
                17 + 23 * ((fid * 7 + k) % 11),
                29 + 31 * ((fid * 5 + k) % 7),
                (fid * 37 + k * 101) % 256,
            )

        def container(i: int) -> bytes:
            fid, swap_k = i % 50, i % 3
            frames = [
                # the swapped frame comes from a far-away family so it
                # shares nothing with the rest of the clip
                frame(fid + 1000 + swap_k, swap_k) if k == swap_k else frame(fid, k)
                for k in range(n_frames)
            ]
            out = [VIDEO_MAGIC, struct.pack(">I", len(frames))]
            for f in frames:
                out.append(struct.pack(">I", len(f)))
                out.append(f)
            return b"".join(out)

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {"asset_id": ids, "payload": [container(int(i)) for i in ids]}
            )

    return _spread_decode_rows(docs.select("doc_id")).mapInPandas(run, schema="asset_id long, payload binary")


def video_frame_dhash(
    assets: DataFrame,
    frames_per_video: int = 4,
    gx: int = DHASH_GX,
    gy: int = DHASH_GY,
) -> DataFrame:
    """Evenly-sampled per-frame perceptual hashes for video payloads —
    the standard clip-dedup fingerprint (two re-encodes of the same
    footage share most sampled-frame hashes; byte/sha dedup shares
    none). Sample positions ``s_r = (r·n_frames) // frames_per_video``
    (r = 0..frames_per_video−1, duplicates collapsed for short clips);
    each sampled frame REALLY decodes through the same dHash as
    :func:`image_dhash`. Returns one row PER SAMPLED FRAME
    ``(asset_id, frame_idx, dhash)`` — join on dhash for clip-level
    near-dup (shared-frame evidence).

    Non-container payloads yield a single digest pseudo-hash row at
    frame_idx −1 (the codec fallback contract).
    """

    def _frames(payload: bytes):
        import struct

        if payload[:4] != VIDEO_MAGIC:
            return None
        (n,) = struct.unpack(">I", payload[4:8])
        pos, out = 8, []
        for _ in range(n):
            (ln,) = struct.unpack(">I", payload[pos : pos + 4])
            out.append(payload[pos + 4 : pos + 4 + ln])
            pos += 4 + ln
        return out

    def _luma_grid(px):
        import numpy as np

        arr = np.asarray(px, dtype=np.float64)
        if arr.ndim == 2:
            return arr
        if arr.shape[2] in (1, 2):
            return arr[..., 0]
        return 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]

    def _pixels(payload: bytes):
        # PIL, else the gray filter-0/2 pure path (same pair as
        # image_dhash; nested per mapInPandas pickling contract)
        try:
            import io

            from PIL import Image

            with Image.open(io.BytesIO(payload)) as img:
                if img.mode == "P":
                    img = img.convert("RGB")
                if img.mode in ("L", "LA", "RGB", "RGBA"):
                    return _luma_grid(img)
        except Exception:
            pass
        import struct
        import zlib

        import numpy as np

        pos, ihdr, idat = 8, None, b""
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None:
            return None
        w, h, depth, color, _comp, _filt, interlace = ihdr
        if depth != 8 or color != 0 or interlace != 0:
            return None
        raw = zlib.decompress(idat)
        if len(raw) != h * (w + 1):
            return None
        out = np.zeros((h, w), dtype=np.uint8)
        prev = np.zeros(w, dtype=np.uint8)
        for y in range(h):
            f = raw[y * (w + 1)]
            line = np.frombuffer(
                raw[y * (w + 1) + 1 : (y + 1) * (w + 1)], dtype=np.uint8
            ).copy()
            if f == 0:
                cur = line
            elif f == 2:
                cur = line + prev
            else:
                return None
            out[y] = cur
            prev = cur
        return out.astype(float)

    def _dhash_grid(grid) -> int:
        h_, w_ = grid.shape
        xs = [(i * w_) // (gx + 1) for i in range(gx + 1)]
        ys = [(j * h_) // gy for j in range(gy)]
        val = 0
        for j, yj in enumerate(ys):
            for i in range(gx):
                if grid[yj, xs[i + 1]] > grid[yj, xs[i]]:
                    val |= 1 << (j * gx + i)
        return val

    def _rows(asset_id: int, payload: bytes):
        if payload is None:
            raise NotImplementedError("frame sampling requires payload bytes")
        frames = None
        try:
            frames = _frames(payload)
        except Exception:
            frames = None
        if not frames:
            d = hashlib.sha256(payload).digest()
            return [(asset_id, -1, int.from_bytes(d[:8], "big") & ((1 << (gx * gy)) - 1))]
        n = len(frames)
        idxs = sorted({(r * n) // frames_per_video for r in range(frames_per_video)})
        out = []
        for k in idxs:
            grid = _pixels(frames[k])
            if grid is None:
                d = hashlib.sha256(frames[k]).digest()
                out.append((asset_id, k, int.from_bytes(d[:8], "big") & ((1 << (gx * gy)) - 1)))
            else:
                out.append((asset_id, k, _dhash_grid(grid)))
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for aid, p in zip(pdf["asset_id"], pdf["payload"])
                for r in _rows(int(aid), p)
            ]
            yield pd.DataFrame(
                rows, columns=["asset_id", "frame_idx", "dhash"]
            ).astype({"asset_id": "int64", "frame_idx": "int64", "dhash": "int64"})

    return assets.mapInPandas(run, schema="asset_id long, frame_idx long, dhash long")


def video_frame_dhash_sql(
    table: str,
    id_col: str,
    n_frames: int = 12,
    frames_per_video: int = 4,
    gx: int = DHASH_GX,
    gy: int = DHASH_GY,
) -> str:
    """DuckDB oracle for video_frame_dhash over the container fixture:
    closed-form per (id, sampled frame)."""
    idxs = sorted({(r * n_frames) // frames_per_video for r in range(frames_per_video)})

    def dhash_expr(fid: str, k: int) -> str:
        w = f"(8 + ({fid}) % 9)"
        h = f"(8 + {k % 3})"
        a = f"(17 + 23 * ((({fid}) * 7 + {k}) % 11))"
        b = f"(29 + 31 * ((({fid}) * 5 + {k}) % 7))"
        c = f"((({fid}) * 37 + {k} * 101) % 256)"
        terms = []
        for j in range(gy):
            yj = f"(({j} * {h}) // {gy})"
            for i in range(gx):
                x1 = f"(({i} * {w}) // {gx + 1})"
                x2 = f"((({i + 1}) * {w}) // {gx + 1})"
                p1 = f"(({a} * {x1} + {b} * {yj} + {c}) % 256)"
                p2 = f"(({a} * {x2} + {b} * {yj} + {c}) % 256)"
                terms.append(
                    f"(CASE WHEN {p2} > {p1} THEN CAST({1 << (j * gx + i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
                )
        return "(" + " + ".join(terms) + ")"

    legs = []
    for k in idxs:
        fid = f"(CASE WHEN {id_col} % 3 = {k} THEN {id_col} % 50 + 1000 + {k} ELSE {id_col} % 50 END)"
        legs.append(
            f"SELECT {id_col} AS asset_id, CAST({k} AS BIGINT) AS frame_idx,"
            f" {dhash_expr(fid, k)} AS dhash FROM {table}"
        )
    return "\nUNION ALL\n".join(legs)
