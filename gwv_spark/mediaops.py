"""Multimodal columns: opaque binary media payloads with typed metadata.

The engine treats image/audio/video as ``BINARY`` columns plus a typed
``meta`` struct, exactly as a 100 TB training-data pipeline would store
them (payload bytes in parquet/Iceberg, decode on demand).  All compute
runs as Arrow-batched ``mapInPandas`` — one Arrow transfer per batch,
numpy over the byte buffers inside, never per-row Python through the
serializer.

Real codec decode (PIL / libav) is NOT available in this environment, so
decoding is gated: if a real decoder import succeeds it is used,
otherwise a clearly-marked deterministic fake decoder parses the
synthetic payload header written by :func:`synth_media`.  The Spark-side
plumbing — schema, partitioning, UDF signatures, batch shapes, row
expansion for frame sampling — is real and tested either way.

Schema:

    media(media_id STRING, kind STRING,          -- 'image'|'audio'|'video'
          data BINARY,
          meta STRUCT<width INT, height INT, duration_ms INT,
                      sample_rate INT, codec STRING>)

Synthetic payload layout (fake codec "SYN1"): 16-byte header
``b"SYN1" + kind_byte + width:uint16 + height:uint16 + frames:uint16 +
seed:uint32 + pad`` followed by a deterministic byte stream.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

_MAGIC = b"SYN1"
_KIND_CODE = {"image": 1, "audio": 2, "video": 3}
_KIND_NAME = {v: k for k, v in _KIND_CODE.items()}

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("data", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                    StructField("codec", StringType()),
                ]
            ),
        ),
    ]
)


# ----------------------------------------------------------- synthesis

def _payload(kind: str, width: int, height: int, frames: int, seed: int) -> bytes:
    """Deterministic fake payload: header + repeatable byte stream."""
    head = _MAGIC + struct.pack(
        "<BHHHI", _KIND_CODE[kind], width, height, frames, seed & 0xFFFFFFFF
    ) + b"\x00"
    n = width * height * max(frames, 1) if kind != "audio" else width * max(frames, 1)
    n = min(n, 4096)  # cap payload size; enough to exercise batch shapes
    rng = np.random.default_rng(seed)
    return head + rng.integers(0, 256, n, dtype=np.uint8).tobytes()


def gen_media_record(idx: int, seed: int = 42) -> dict:
    """Pure function (seed, idx) → one media row."""
    h = int.from_bytes(hashlib.md5(f"media:{seed}:{idx}".encode()).digest()[:4], "big")
    kind = ("image", "audio", "video")[h % 3]
    width = 16 + (h >> 4) % 48
    height = 16 + (h >> 10) % 48 if kind != "audio" else 1
    frames = 1 if kind == "image" else 2 + (h >> 16) % 6
    duration = 0 if kind == "image" else frames * 40
    rate = 16000 if kind == "audio" else 0
    return {
        "media_id": f"m-{idx:08d}",
        "kind": kind,
        "data": _payload(kind, width, height, frames, h),
        "meta": {
            "width": width,
            "height": height,
            "duration_ms": duration,
            "sample_rate": rate,
            "codec": "SYN1",
        },
    }


def synth_media(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic media table — the 10^12-row path: each
    task generates its own id range from spark.range, no shuffle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_media_record(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["media_id", "kind", "data", "meta"])

    rng = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=MEDIA_SCHEMA)


def _expected_tables(n: int, seed: int = 42, every_n: int = 2, out_wh: tuple[int, int] = (8, 8)):
    """Generator-FORWARD expected outputs for features / frame sampling /
    resize — the differential oracle for the fake codec.

    Deliberately does NOT call :func:`_payload` or :func:`decode_bytes`:
    it re-derives the byte stream from the generator parameters and
    applies the padding/reshape semantics independently, so a bug in the
    header packer or the decoder's parsing shows up as a mismatch instead
    of being self-confirmed (round-trip oracle, cf. the reference's
    dump-reload tests)."""
    import hashlib as _hl

    feats, frames_rows, resized = [], [], []
    for idx in range(n):
        h = int.from_bytes(_hl.md5(f"media:{seed}:{idx}".encode()).digest()[:4], "big")
        kind = ("image", "audio", "video")[h % 3]
        width = 16 + (h >> 4) % 48
        height = 16 + (h >> 10) % 48 if kind != "audio" else 1
        frames = 1 if kind == "image" else 2 + (h >> 16) % 6
        duration = 0 if kind == "image" else frames * 40
        mid = f"m-{idx:08d}"
        n_body = width * frames if kind == "audio" else width * height * frames
        n_body = min(n_body, 4096)
        body = np.random.default_rng(h).integers(0, 256, n_body, dtype=np.uint8)
        if kind == "audio":
            arr = body.reshape(1, 1, -1)
        else:
            full = np.zeros(width * height * frames, dtype=np.uint8)
            full[:n_body] = body
            arr = full.reshape(frames, height, width)
        hist = np.bincount(arr.reshape(-1) >> 4, minlength=16)[:16]
        feats.append(
            {
                "media_id": mid,
                "kind": kind,
                "n_bytes": 16 + n_body,
                "width": int(arr.shape[2]),
                "height": int(arr.shape[1]),
                "n_frames": int(arr.shape[0]),
                "mean_value": float(round(arr.mean(), 6)),
                "byte_hist": ",".join(str(int(x)) for x in hist),
            }
        )
        if kind == "video":
            frame_ms = duration // arr.shape[0]
            for i in range(0, arr.shape[0], every_n):
                frames_rows.append(
                    {
                        "media_id": mid,
                        "frame_idx": i,
                        "ts_ms": i * frame_ms,
                        "frame_md5": _hl.md5(arr[i].tobytes()).hexdigest(),
                    }
                )
        if kind == "image":
            out_h, out_w = out_wh[1], out_wh[0]
            ys = (np.arange(out_h) * arr.shape[1] // out_h).astype(int)
            xs = (np.arange(out_w) * arr.shape[2] // out_w).astype(int)
            small = arr[0][np.ix_(ys, xs)]
            resized.append(
                {
                    "media_id": mid,
                    "width": out_w,
                    "height": out_h,
                    "data_md5": _hl.md5(small.tobytes()).hexdigest(),
                }
            )
    return feats, frames_rows, resized


def ensure_media(out_dir, n: int, seed: int = 42, overwrite: bool = False):
    """Write media.parquet + media_catalog.parquet with pyarrow (driver
    side, test SF only — Spark and the DuckDB oracle read identical
    bytes), plus the generator-forward expected tables
    (media_features_expected / media_frames_expected /
    media_resized_expected) that serve as decode-path oracles.  The
    catalog deliberately omits ids with idx % 19 == 3 so
    referential-integrity checks have dangling refs to find."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pathlib import Path

    out = Path(out_dir)
    media_path = out / "media.parquet"
    cat_path = out / "media_catalog.parquet"
    expected_paths = {
        "media_features_expected": out / "media_features_expected.parquet",
        "media_frames_expected": out / "media_frames_expected.parquet",
        "media_resized_expected": out / "media_resized_expected.parquet",
    }
    if overwrite or not all(p.exists() for p in expected_paths.values()):
        # expected tables can be (re)written without touching media.parquet
        feats, frames_rows, resized = _expected_tables(n, seed)
        out.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "media_id": pa.array([r["media_id"] for r in feats], pa.string()),
                    "kind": pa.array([r["kind"] for r in feats], pa.string()),
                    "n_bytes": pa.array([r["n_bytes"] for r in feats], pa.int64()),
                    "width": pa.array([r["width"] for r in feats], pa.int32()),
                    "height": pa.array([r["height"] for r in feats], pa.int32()),
                    "n_frames": pa.array([r["n_frames"] for r in feats], pa.int32()),
                    "mean_value": pa.array([r["mean_value"] for r in feats], pa.float64()),
                    "byte_hist": pa.array([r["byte_hist"] for r in feats], pa.string()),
                }
            ),
            expected_paths["media_features_expected"],
        )
        pq.write_table(
            pa.table(
                {
                    "media_id": pa.array([r["media_id"] for r in frames_rows], pa.string()),
                    "frame_idx": pa.array([r["frame_idx"] for r in frames_rows], pa.int32()),
                    "ts_ms": pa.array([r["ts_ms"] for r in frames_rows], pa.int32()),
                    "frame_md5": pa.array([r["frame_md5"] for r in frames_rows], pa.string()),
                }
            ),
            expected_paths["media_frames_expected"],
        )
        pq.write_table(
            pa.table(
                {
                    "media_id": pa.array([r["media_id"] for r in resized], pa.string()),
                    "width": pa.array([r["width"] for r in resized], pa.int32()),
                    "height": pa.array([r["height"] for r in resized], pa.int32()),
                    "data_md5": pa.array([r["data_md5"] for r in resized], pa.string()),
                }
            ),
            expected_paths["media_resized_expected"],
        )
    if media_path.exists() and cat_path.exists() and not overwrite:
        return out
    out.mkdir(parents=True, exist_ok=True)

    rows = [gen_media_record(i, seed) for i in range(n)]
    meta_type = pa.struct(
        [
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("duration_ms", pa.int32()),
            ("sample_rate", pa.int32()),
            ("codec", pa.string()),
        ]
    )
    table = pa.table(
        {
            "media_id": pa.array([r["media_id"] for r in rows], pa.string()),
            "kind": pa.array([r["kind"] for r in rows], pa.string()),
            "data": pa.array([r["data"] for r in rows], pa.binary()),
            "meta": pa.array([r["meta"] for r in rows], meta_type),
        }
    )
    pq.write_table(table, media_path)
    cat_rows = [
        (r["media_id"], "do-not-use" if i % 23 == 7 else "ok")
        for i, r in enumerate(rows)
        if i % 19 != 3
    ]
    cat = pa.table(
        {
            "media_id": pa.array([c[0] for c in cat_rows], pa.string()),
            "status": pa.array([c[1] for c in cat_rows], pa.string()),
        }
    )
    pq.write_table(cat, cat_path)
    return out


# ------------------------------------------------------------- decode

def _try_real_decoder():
    try:  # pragma: no cover - PIL absent in this environment
        from PIL import Image  # noqa: F401

        return Image
    except ImportError:
        return None


def decode_bytes(data: bytes) -> np.ndarray:
    """Decode one payload to a (frames, height, width) uint8 array.

    Real codecs are unavailable here: payloads that are not SYN1 fakes
    raise NotImplementedError (STUB — at deploy time this branch calls
    PIL/libav via the same signature)."""
    if data[:4] != _MAGIC:
        if _try_real_decoder() is None:
            raise NotImplementedError(
                "real media decode requires PIL/libav; only SYN1 fake payloads "
                "are decodable in this environment"
            )
        raise NotImplementedError("real-decoder path not wired in sandbox")
    kind_c, width, height, frames, _seed = struct.unpack("<BHHHI", data[4:15])
    body = np.frombuffer(data, dtype=np.uint8, offset=16)
    n = width * height * max(frames, 1) if _KIND_NAME[kind_c] != "audio" else width * max(frames, 1)
    n = min(n, 4096)
    body = body[:n]
    if _KIND_NAME[kind_c] == "audio":
        return body.reshape(1, 1, -1)
    full = np.zeros(width * height * max(frames, 1), dtype=np.uint8)
    full[: len(body)] = body
    return full.reshape(max(frames, 1), height, width)


# ---------------------------------------------------- feature extraction

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_value", DoubleType()),
        # 16 bins over byte values, comma-joined — a STRING, not ARRAY<LONG>,
        # so result cells stay hashable for pandas-based comparison harnesses
        StructField("byte_hist", StringType()),
    ]
)


def media_features(media: DataFrame) -> DataFrame:
    """Decode + per-payload features via mapInPandas (one Arrow batch in,
    one out; numpy histogram per payload — no per-row Python I/O)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, data in zip(pdf["media_id"], pdf["kind"], pdf["data"]):
                arr = decode_bytes(bytes(data))
                hist = np.bincount(arr.reshape(-1) >> 4, minlength=16)[:16]
                out.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "n_bytes": len(data),
                        "width": int(arr.shape[2]),
                        "height": int(arr.shape[1]),
                        "n_frames": int(arr.shape[0]),
                        "mean_value": float(round(arr.mean(), 6)),
                        "byte_hist": ",".join(str(int(x)) for x in hist),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return media.mapInPandas(extract, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("data", BinaryType()),
    ]
)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of image payloads (decode → index-sample →
    re-emit raw bytes).  Real-codec re-encode is stubbed with the same
    deterministic fake format."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, data in zip(pdf["media_id"], pdf["kind"], pdf["data"]):
                if kind != "image":
                    continue
                arr = decode_bytes(bytes(data))[0]
                ys = (np.arange(out_h) * arr.shape[0] // out_h).astype(int)
                xs = (np.arange(out_w) * arr.shape[1] // out_w).astype(int)
                small = arr[np.ix_(ys, xs)]
                out.append(
                    {
                        "media_id": mid,
                        "width": out_w,
                        "height": out_h,
                        "data": small.tobytes(),
                    }
                )
            yield pd.DataFrame(out, columns=["media_id", "width", "height", "data"])

    return media.mapInPandas(resize, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("frame_data", BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Row-expanding frame sampler for video payloads: one input row →
    ceil(frames / every_n) output rows (the batch-shape change is the
    point — mapInPandas output cardinality is decoupled from input)."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, data, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["data"], pdf["meta"]
            ):
                if kind != "video":
                    continue
                arr = decode_bytes(bytes(data))
                frame_ms = (meta["duration_ms"] or 0) // max(arr.shape[0], 1)
                for i in range(0, arr.shape[0], every_n):
                    out.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "ts_ms": i * frame_ms,
                            "frame_data": arr[i].tobytes(),
                        }
                    )
            yield pd.DataFrame(out, columns=["media_id", "frame_idx", "ts_ms", "frame_data"])

    return media.mapInPandas(frames, schema=FRAMES_SCHEMA)


# ----------------------------------------------- catalog RI (join switch)

def media_ri(
    refs: DataFrame,
    catalog: DataFrame,
    ref_col: str = "media_ref",
    catalog_col: str = "media_id",
    broadcast_threshold: int | None = 1_000_000,
    catalog_rows: int | None = None,
) -> DataFrame:
    """Dangling media references: refs whose key has no catalog row.

    North-rule join-strategy switch: if the catalog is small (≤
    broadcast_threshold rows — pass catalog_rows when known from table
    metadata to avoid the count) the anti join broadcasts the catalog;
    otherwise it stays a shuffled sort-merge anti join, which AQE will
    skew-split on hot keys."""
    keys = refs.where(F.col(ref_col).isNotNull()).select(F.col(ref_col).alias("__ref"))
    cat = catalog.select(F.col(catalog_col).alias("__ref")).dropDuplicates(["__ref"])
    if catalog_rows is None and broadcast_threshold is not None:
        catalog_rows = cat.count()
    if broadcast_threshold is not None and catalog_rows <= broadcast_threshold:
        cat = F.broadcast(cat)
    return (
        keys.join(cat, "__ref", "left_anti")
        .groupBy("__ref")
        .agg(F.count(F.lit(1)).alias("n_refs"))
        .select(F.col("__ref").alias(ref_col), "n_refs")
    )
