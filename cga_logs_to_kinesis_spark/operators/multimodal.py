"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: the media itself is an opaque
``binary`` column (or a pointer column to object storage) with a typed
metadata struct beside it; decode / feature-extract / resize run as
Arrow-batched ``mapInPandas`` stages so each task processes a whole
batch of blobs without row-at-a-time Python overhead.

Codec strategy (probe-gated, the boto3/spark-protobuf discipline):

* **PNG** decodes everywhere via the stdlib codec in
  ``functions/png.py`` (zlib + struct — no image libs needed), so the
  PNG-media operators below do REAL pixel work in any environment;
* **Pillow**, when importable, is the preferred decoder (every format,
  C-speed unfiltering); its absence degrades PNG to the stdlib codec
  and makes any *other* format fail loudly with NotImplementedError —
  never a fake decode;
* the **raw-RGB** path further down needs only numpy and is the
  fallback fixture format for codec-free environments.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cga_logs_to_kinesis_spark.functions.png import (
    PNG_MAGIC,
    decode_png,
    encode_png,
)
from cga_logs_to_kinesis_spark.registry import QuerySpec, register
from cga_logs_to_kinesis_spark.session import (
    explode_parallelism,
    tune_session,
)
from cga_logs_to_kinesis_spark.sources import load_table


def _pillow_decode(blob: bytes):
    """Decode via Pillow, gated: Pillow isn't in this container."""
    try:
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "Pillow not available; PNG decodes via the stdlib codec, "
            "other formats need Pillow") from e
    import numpy as np
    with Image.open(io.BytesIO(bytes(blob))) as im:  # pragma: no cover
        return np.asarray(im.convert("RGB"))


def decode_image(blob: bytes):
    """blob → (h, w, >=3) uint8 array.  Pillow when importable (any
    format it knows); otherwise the stdlib PNG codec for PNG blobs and
    a loud NotImplementedError for everything else — a format we
    cannot really decode is an error, never a fake."""
    try:
        return _pillow_decode(blob)
    except NotImplementedError:
        if bytes(blob[:8]) == PNG_MAGIC:
            return decode_png(blob)
        raise


def _nn_resize(arr, out_w: int, out_h: int):
    """Nearest-neighbor resample: source pixel for output (x, y) is
    (x*w//out_w, y*h//out_h) — pure index arithmetic, deterministic."""
    import numpy as np
    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return arr[np.ix_(ys, xs)]


# Output contract of the feature-extraction stage.  Channel means are
# x1e6 fixed-point ints (exact rationals, same convention as the
# raw-RGB path) over the first three channels.
MEDIA_FEATURES = StructType([
    StructField("doc_id", LongType(), False),
    StructField("media_type", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("checksum_crc32", LongType(), False),
    StructField("content_digest", StringType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("mean_r", LongType(), False),
    StructField("mean_g", LongType(), False),
    StructField("mean_b", LongType(), False),
])


def _fused_map(src: DataFrame, stages, schema) -> DataFrame:
    """Compose per-batch generator stages into ONE mapInPandas.

    Every media query is fixture-generate → consume (features /
    resize / fingerprint): as separate ``mapInPandas`` calls the
    payload column crosses Python→JVM→Python between the stages —
    two extra Arrow (de)serializations of the HEAVIEST bytes in the
    plan for zero work (guide §4.1: you cannot remove the boundary,
    but you control how often the bytes cross it).  Composing the
    batch generators chains them inside one Python worker: payloads
    are born and consumed in-process, only the final (narrow) feature
    rows cross back.  Each stage is the same ``Iterator[pd.DataFrame]
    -> Iterator[pd.DataFrame]`` callable the unfused operator passes
    to mapInPandas, so fused and unfused paths share one
    implementation (parity pinned in tests/test_multimodal.py)."""
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for stage in stages:
            it = stage(it)
        return it

    return src.mapInPandas(run, schema=schema)


def _media_features_stage():
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = pdf["payload"]
            dims, means = [], []
            for b in blobs:
                arr = decode_image(bytes(b))
                h, w = arr.shape[0], arr.shape[1]
                n = w * h
                sums = arr[..., :3].reshape(-1, 3).sum(
                    axis=0, dtype=np.int64)
                dims.append((w, h))
                means.append([int(s) * 1_000_000 // n for s in sums])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": blobs.map(len).astype("int64"),
                "checksum_crc32": blobs.map(
                    lambda b: zlib.crc32(bytes(b))).astype("int64"),
                "content_digest": blobs.map(
                    lambda b: hashlib.md5(bytes(b)).hexdigest()),
                "width": pd.Series([d[0] for d in dims], dtype="int32"),
                "height": pd.Series([d[1] for d in dims], dtype="int32"),
                "mean_r": pd.Series([m[0] for m in means], dtype="int64"),
                "mean_g": pd.Series([m[1] for m in means], dtype="int64"),
                "mean_b": pd.Series([m[2] for m in means], dtype="int64"),
            })

    return batches


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, media_type, payload).

    One Arrow batch in, one pandas frame out — vectorized transport,
    per-blob decode.  Partitioning is inherited from the input scan, so
    decode parallelism = input partitions (tune with repartition before
    this stage if blobs are few and large).
    """
    return media.mapInPandas(_media_features_stage(),
                             schema=MEDIA_FEATURES)


# Deterministic fixture content: every pixel/sample value comes from
# an integer hash that is exactly reproducible in BOTH numpy and ANSI
# SQL — so the raw-RGB and WAV feature queries can be oracle-paired
# end-to-end (DuckDB recomputes the decoded values from first
# principles, the same "rescue" applied to pca_project in r5).  The
# three incommensurate multipliers give full value-range coverage
# without visible banding; (doc_id % PIX_M) bounds every product
# inside int64 for any doc_id in either engine.
PIX_A, PIX_B, PIX_C, PIX_M = 2654435761, 40503, 65521, 1000003
PCM_A, PCM_B, PCM_C = 48271, 16807, 32749


def hash_pixel_bytes(doc_id: int, n: int):
    """n deterministic uint8s for doc_id — numpy twin of _pix_sql."""
    import numpy as np
    i = np.arange(n, dtype=np.int64)
    d = int(doc_id) % PIX_M
    return ((d * PIX_A + i * PIX_B + (i * i) % PIX_C) % 256) \
        .astype(np.uint8)


def hash_pcm_samples(doc_id: int, n: int, nch: int):
    """(n, nch) deterministic int16 PCM — numpy twin of _pcm_sql."""
    import numpy as np
    j = np.arange(n * nch, dtype=np.int64)
    d = int(doc_id) % PIX_M
    v = (d * PCM_A + j * PCM_B + (j * j) % PCM_C) % 65536 - 32768
    return v.astype(np.int16).reshape(n, nch)


def _pix_sql(i_expr: str, seed_expr: str = "doc_id") -> str:
    """DuckDB expression for pixel byte i_expr of seed_expr's image."""
    return (f"(((({seed_expr}) % {PIX_M}) * {PIX_A} "
            f"+ ({i_expr}) * {PIX_B} "
            f"+ (({i_expr}) * ({i_expr})) % {PIX_C}) % 256)")


def _pcm_sql(j_expr: str) -> str:
    """DuckDB expression for interleaved PCM sample j_expr."""
    return (f"(((doc_id % {PIX_M}) * {PCM_A} + ({j_expr}) * {PCM_B} "
            f"+ (({j_expr}) * ({j_expr})) % {PCM_C}) % 65536 - 32768)")


def _png_media_stage():
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = 8 + int(doc_id) % 25
                h = 8 + (int(doc_id) // 3) % 25
                arr = hash_pixel_bytes(doc_id, w * h * 3) \
                    .reshape(h, w, 3)
                payloads.append(encode_png(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    return batches


def _const_column_stage(name: str, value):
    """Tiny adapter stage: the fused twin of a ``F.lit`` select
    between two mapInPandas operators."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[name] = value
            yield pdf

    return batches


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG media blobs (deterministic, seeded from doc_id) → REAL codec
    decode → dimensions + exact channel means.  Rows-only in the
    driver gate (pixel decode is not SQL-expressible); exactness is
    pinned by tests/test_multimodal.py, including pixel parity with
    the raw-RGB operators over the identically-seeded arrays."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _fused_map(
        media_schema_df(docs),
        [_png_media_stage(),
         _const_column_stage("media_type", "image/png"),
         _media_features_stage()],
        MEDIA_FEATURES).orderBy("doc_id")


register(QuerySpec(
    "multimodal_features", q_multimodal_features,
    oracle=None,  # pixel decode: genuinely non-SQL-expressible
    doc="binary media column + mapInPandas feature extraction (REAL "
        "PNG decode via the stdlib codec; Pillow probe-gated for "
        "other formats)",
    tags=("multimodal", "north-star", "pandas-udf"),
))



# ---------------------------------------------------------------------------
# Resize / frame-sample: the remaining media-pipeline stages.
# Resize is a real decode → nearest-neighbor resample → re-encode.
# Video frame sampling lives in the MPNG section at the end of this
# module: real container parse + real PNG decode of sampled frames.
# ---------------------------------------------------------------------------

RESIZED = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("thumb_digest", StringType(), False),
])

def _resize_media_stage(max_side: int = 16):
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_w, out_h, digests = [], [], []
            for blob in pdf["payload"]:
                arr = decode_image(bytes(blob))
                h, w = arr.shape[0], arr.shape[1]
                scale = max_side / max(w, h)
                nw = max(1, int(w * scale))
                nh = max(1, int(h * scale))
                thumb = encode_png(_nn_resize(arr, nw, nh))
                rh, rw = decode_png(thumb).shape[:2]
                out_w.append(rw)
                out_h.append(rh)
                digests.append(hashlib.md5(thumb).hexdigest())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": pd.Series(out_w, dtype="int32"),
                "height": pd.Series(out_h, dtype="int32"),
                "thumb_digest": digests,
            })

    return batches


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _fused_map(
        media_schema_df(docs),
        [_png_media_stage(), _resize_media_stage()],
        RESIZED).orderBy("doc_id")


register(QuerySpec(
    "multimodal_resize", q_multimodal_resize,
    oracle=None,
    doc="media resize stage: REAL PNG decode -> nearest-neighbor "
        "resample -> re-encode, dims verified by re-decode",
    tags=("multimodal", "north-star", "pandas-udf"),
))


# ---------------------------------------------------------------------------
# RAW-format path: REAL decode / features / resize, no codec libs.
# ---------------------------------------------------------------------------
# Codec formats (JPEG/PNG/...) need Pillow etc., absent here — but a
# raw self-describing format needs only numpy, which IS available.
# Payload = 8-byte big-endian header (width, height) + width*height*3
# interleaved RGB bytes.  Everything below is real pixel math: header
# parse, channel statistics, nearest-neighbor resample.  Swapping the
# payload parser for a codec decode is the only change needed for
# JPEG/PNG — the Spark topology (Arrow batches, row expansion
# executor-side, digest-only shuffles) is identical.

RAW_HEADER = struct.Struct(">II")

RAW_FEATURES = StructType([
    StructField("doc_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("mean_r", LongType(), False),   # x1e6 fixed-point
    StructField("mean_g", LongType(), False),
    StructField("mean_b", LongType(), False),
])


def encode_raw_image(arr) -> bytes:
    """(h, w, 3) uint8 array → raw payload."""
    h, w = arr.shape[0], arr.shape[1]
    return RAW_HEADER.pack(w, h) + arr.tobytes()


def decode_raw_image(blob: bytes):
    """Raw payload → (h, w, 3) uint8 array.  Raises on malformed
    input — a corrupt blob must fail loudly, not decode garbage."""
    import numpy as np
    w, h = RAW_HEADER.unpack(blob[:RAW_HEADER.size])
    body = blob[RAW_HEADER.size:]
    if len(body) != w * h * 3:
        raise ValueError(f"raw image: expected {w * h * 3} bytes, "
                         f"got {len(body)}")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def _raw_media_stage():
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = 8 + int(doc_id) % 25
                h = 8 + (int(doc_id) // 3) % 25
                arr = hash_pixel_bytes(doc_id, w * h * 3) \
                    .reshape(h, w, 3)
                payloads.append(encode_raw_image(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    return batches


def make_raw_media(docs: DataFrame) -> DataFrame:
    """Deterministic raw-RGB fixture blobs: dimensions and pixels are
    hashed from doc_id (hash_pixel_bytes), so every run — and the
    DuckDB oracle recomputing from _pix_sql — sees identical
    payloads."""
    return (media_schema_df(docs)
            .mapInPandas(_raw_media_stage(),
                         schema="doc_id long, payload binary"))


def media_schema_df(docs: DataFrame) -> DataFrame:
    """Seed frame for every media fixture builder.  Repartitioned by
    the explode-parallelism knob: the documents fixture is one parquet
    file → one partition, which would serialize every Python
    encode/decode stage downstream; the shuffle moved here is doc_ids
    only (8 bytes/row), bought back 32× over in the codec stages."""
    par = explode_parallelism(docs.sparkSession)
    return docs.select("doc_id").repartition(par)


def _raw_features_stage():
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "width": [], "height": [],
                    "mean_r": [], "mean_g": [], "mean_b": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                arr = decode_raw_image(bytes(blob))
                h, w = arr.shape[0], arr.shape[1]
                sums = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                n = w * h
                for ch, key in enumerate(("mean_r", "mean_g", "mean_b")):
                    rows[key].append(int(sums[ch]) * 1_000_000 // n)
            yield pd.DataFrame({
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
                "mean_r": pd.Series(rows["mean_r"], dtype="int64"),
                "mean_g": pd.Series(rows["mean_g"], dtype="int64"),
                "mean_b": pd.Series(rows["mean_b"], dtype="int64"),
            })

    return batches


def raw_features(media: DataFrame) -> DataFrame:
    """Real per-channel means from decoded pixels.  Means are emitted
    as x1e6 fixed-point integers: the mean of uint8s is an exact
    rational (sum/count in int64), and fixed-point keeps the output
    float-free so any downstream comparison is exact."""
    return media.mapInPandas(_raw_features_stage(),
                             schema=RAW_FEATURES)


def _resize_raw_stage(out_w: int = 16, out_h: int = 16):
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads, digests = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                arr = decode_raw_image(bytes(blob))
                h, w = arr.shape[0], arr.shape[1]
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                small = arr[np.ix_(ys, xs)]
                out = encode_raw_image(small)
                ids.append(doc_id)
                payloads.append(out)
                digests.append(hashlib.md5(out).hexdigest())
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "payload": payloads,
                "thumb_digest": digests,
            })

    return batches


def resize_raw(media: DataFrame, out_w: int = 16,
               out_h: int = 16) -> DataFrame:
    """Real nearest-neighbor resample via numpy index arithmetic —
    source pixel for output (x, y) is (x*w//out_w, y*h//out_h).
    Emits the resized payload (still raw format) plus its digest."""
    return media.mapInPandas(
        _resize_raw_stage(out_w, out_h),
        schema="doc_id long, payload binary, thumb_digest string")


def q_multimodal_raw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate raw blobs → decode → channel stats.  Oracle-paired:
    the pixel content is hash-generated (hash_pixel_bytes), so DuckDB
    recomputes every decoded byte from _pix_sql and the channel means
    are hash-exact — the decode itself is still a real mapInPandas
    binary parse, exactness double-pinned by tests/test_multimodal.py."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _fused_map(
        media_schema_df(docs),
        [_raw_media_stage(), _raw_features_stage()],
        RAW_FEATURES).orderBy("doc_id")


def _raw_mean_sql(channel: int) -> str:
    """Channel mean over w*h hashed pixels, x1e6 fixed-point.
    CAST: list_sum yields HUGEINT, which the driver's pandas
    canonicalizer renders as float64 and hash-fails."""
    return (f"CAST(list_sum(list_transform(range(0, w*h), "
            f"k -> {_pix_sql(f'k*3+{channel}')})) * 1000000 // (w*h) "
            f"AS BIGINT)")


register(QuerySpec(
    "multimodal_raw_features", q_multimodal_raw_features,
    oracle=f"""
        WITH dims AS (
            SELECT doc_id,
                   8 + doc_id % 25 AS w,
                   8 + (doc_id // 3) % 25 AS h
            FROM documents
        )
        SELECT doc_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               {_raw_mean_sql(0)} AS mean_r,
               {_raw_mean_sql(1)} AS mean_g,
               {_raw_mean_sql(2)} AS mean_b
        FROM dims
        ORDER BY doc_id
    """,
    doc="REAL raw-RGB decode + exact channel means (numpy, no codec "
        "libs needed); oracle recomputes the hashed pixels in SQL",
    tags=("multimodal", "north-star", "pandas-udf"),
))


def q_multimodal_raw_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _fused_map(
        media_schema_df(docs),
        [_raw_media_stage(), _resize_raw_stage(), _raw_features_stage()],
        RAW_FEATURES).orderBy("doc_id")


def _resized_mean_sql(channel: int) -> str:
    """Channel mean over the 16x16 nearest-neighbor-sampled pixels:
    output (x, y) takes source pixel (x*w//16, y*h//16)."""
    src = f"(((k // 16) * h // 16) * w + ((k % 16) * w // 16)) * 3 + {channel}"
    return (f"CAST(list_sum(list_transform(range(0, 256), "
            f"k -> {_pix_sql(src)})) * 1000000 // 256 AS BIGINT)")


register(QuerySpec(
    "multimodal_raw_resize", q_multimodal_raw_resize,
    oracle=f"""
        WITH dims AS (
            SELECT doc_id,
                   8 + doc_id % 25 AS w,
                   8 + (doc_id // 3) % 25 AS h
            FROM documents
        )
        SELECT doc_id,
               CAST(16 AS INT) AS width,
               CAST(16 AS INT) AS height,
               {_resized_mean_sql(0)} AS mean_r,
               {_resized_mean_sql(1)} AS mean_g,
               {_resized_mean_sql(2)} AS mean_b
        FROM dims
        ORDER BY doc_id
    """,
    doc="REAL nearest-neighbor resize, verified by re-decoding the "
        "resized payloads; oracle replays the index arithmetic in SQL",
    tags=("multimodal", "north-star", "pandas-udf"),
))


# ---------------------------------------------------------------------------
# Image near-dup dedup: dHash perceptual fingerprint, Hamming-banded
# ---------------------------------------------------------------------------
# The one modality that had features/resize but no dedup.  dHash
# (difference hash): downsample to a 9x8 grayscale grid, emit one bit
# per horizontally-adjacent cell comparison (64 bits) — invariant to
# uniform brightness shifts by construction (a +k on every pixel
# preserves every strict comparison), which is the perceptual property
# that makes it a near-dup hash rather than a byte hash.  Candidate
# generation is the Manku block-banding of dedup_simhash_pairs one
# modality over: 4 x 16-bit bands, equality join per band (pigeonhole
# guarantees detection at Hamming <= 3), hot-band capped, exact
# Hamming verify on candidates only — never all-pairs.
#
# Fixture: the pure hash-per-doc_id raw fixture has NO near-dups, so
# the dedup fixture plants them — groups of IMG_GROUP docs share a
# scene seed; variants 0..2 are the scene at uniform brightness
# +0/+1/+2 (v1 additionally overwrites pixel byte 0 with 255, flipping
# at most dHash bit 0 — a controlled nonzero-Hamming near-miss);
# variant 3 is an unrelated scene (odd seed space, disjoint from the
# even group seeds).  Everything stays integer arithmetic over
# hash-generated bytes, so DuckDB recomputes the fingerprints exactly
# (the multimodal_raw_features discipline).
#
# 100 TB shape: the decode is a scan-bound Arrow mapInPandas; only
# (doc_id, 4 x 16-bit bands) ever leaves the executor — the
# digest-only-shuffle discipline of dedup_exact.  The band join's
# build side is collision buckets only (bucket_bounded lo=2), and the
# fingerprint frame is checkpointed once for the explode and both
# join sides (the simhash double-eval guard; here the upstream is an
# EXPENSIVE Python decode, so re-evaluation would decode the corpus
# three times).

IMG_GROUP = 4            # docs per planted scene group (3 dups + 1 distinct)
IMG_PIX_LEVELS = 248     # base pixel range; + brightness <= 250, no clip
IMG_BANDS = 4
IMG_BAND_BITS = 16
IMG_HAMMING_MAX = 3      # 4 blocks pigeonhole-guarantee d <= 3
IMG_MAX_BAND = 1000      # hot-band cap, the SIMHASH_MAX_BLOCK analogue


def _scene_seed(doc_id: int) -> int:
    """Even seeds = shared scenes (doc_id // IMG_GROUP), odd seeds =
    the per-doc distinct variant — the two spaces never collide."""
    v = int(doc_id) % IMG_GROUP
    return 2 * int(doc_id) + 1 if v == 3 else 2 * (int(doc_id) // IMG_GROUP)


def _scene_media_stage():
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                seed = _scene_seed(doc_id)
                v = int(doc_id) % IMG_GROUP
                w = 8 + seed % 25
                h = 8 + (seed // 3) % 25
                n = w * h * 3
                i = np.arange(n, dtype=np.int64)
                d = seed % PIX_M
                base = (d * PIX_A + i * PIX_B + (i * i) % PIX_C) \
                    % IMG_PIX_LEVELS
                bright = 0 if v == 3 else v
                arr = (base + bright).astype(np.uint8)
                if v == 1:
                    arr[0] = 255
                payloads.append(
                    encode_raw_image(arr.reshape(h, w, 3)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    return batches


def make_raw_media_scenes(docs: DataFrame) -> DataFrame:
    """Raw-RGB fixture with PLANTED near-duplicates (see module
    comment above): deterministic, so the oracle recomputes every
    byte.  Dims derive from the scene seed — group members must share
    dimensions for the brightness invariance to hold cell-for-cell."""
    return (media_schema_df(docs)
            .mapInPandas(_scene_media_stage(),
                         schema="doc_id long, payload binary"))


IMG_HASH_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("band0", LongType(), False),
    StructField("band1", LongType(), False),
    StructField("band2", LongType(), False),
    StructField("band3", LongType(), False),
])


def _dhash_stage():
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "band0": [], "band1": [],
                    "band2": [], "band3": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                arr = decode_raw_image(bytes(blob))
                h, w = arr.shape[0], arr.shape[1]
                ys = (np.arange(8) * h) // 8
                xs = (np.arange(9) * w) // 9
                g = arr[np.ix_(ys, xs)].astype(np.int64).sum(axis=2)
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).ravel()
                rows["doc_id"].append(doc_id)
                for j in range(IMG_BANDS):
                    block = bits[j * IMG_BAND_BITS:(j + 1) * IMG_BAND_BITS]
                    rows[f"band{j}"].append(
                        int((block << np.arange(IMG_BAND_BITS)).sum()))
            yield pd.DataFrame(
                {k: pd.Series(vs, dtype="int64")
                 for k, vs in rows.items()})

    return batches


def image_dhash(media: DataFrame) -> DataFrame:
    """REAL dHash over decoded pixels: 9x8 nearest-neighbor grayscale
    grid (gray = r+g+b, integer-exact — no luma weights, no division),
    64 adjacent-cell comparisons, packed as 4 x 16-bit band values
    (band j holds bits t = j*16..j*16+15, t = gy*8 + gx).  Band values
    ARE the join keys downstream, so no 64-bit sign gymnastics."""
    return media.mapInPandas(_dhash_stage(), schema=IMG_HASH_SCHEMA)


def scene_dhash_fingerprints(docs: DataFrame) -> DataFrame:
    """Fused scene-generate + dHash: the planted-scene payloads are
    born and fingerprinted inside ONE Python worker pass, so the
    pixel bytes never cross the JVM boundary at all — only the
    (doc_id, 4 x int64 band) rows come back (guide §4.1; parity with
    the unfused pair pinned in tests/test_multimodal.py)."""
    return _fused_map(media_schema_df(docs),
                      [_scene_media_stage(), _dhash_stage()],
                      IMG_HASH_SCHEMA)


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprints alone — the decode + hash stage, oracle-exact."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return scene_dhash_fingerprints(docs).orderBy("doc_id")


def _image_pair_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    docs = load_table(spark, sf_dir, "documents")
    fps = scene_dhash_fingerprints(docs).localCheckpoint()
    eligible = bucket_bounded(image_band_entries(fps),
                              ["band_id", "band_val"],
                              lo=2, hi=IMG_MAX_BAND)
    a = eligible.select(F.col("doc_id").alias("doc_a"),
                        "band_id", "band_val")
    b = eligible.select(F.col("doc_id").alias("doc_b"),
                        "band_id", "band_val")
    cand = (a.join(b, ["band_id", "band_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    fa = fps.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"band{j}").alias(f"a{j}")
                      for j in range(IMG_BANDS)])
    fb = fps.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"band{j}").alias(f"b{j}")
                      for j in range(IMG_BANDS)])
    ham = sum(F.expr(f"bit_count(a{j} ^ b{j})")
              for j in range(IMG_BANDS)).cast("long")
    return (cand.join(fa, "doc_a").join(fb, "doc_b")
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= IMG_HAMMING_MAX)
            .select("doc_a", "doc_b", "hamming"))


def q_image_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return _image_pair_report(spark, sf_dir)


def q_image_dedup_survivors(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Keep-first survivors: a document is dropped iff it has a
    near-dup partner with a smaller doc_id (dedup_exact's first-seen
    convention — pairwise, not component-closed: the policy needs
    only the pair report, so the iterative components stage stays out
    of the serving path; semdedup_survivors is the component-closed
    sibling when group structure matters)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    losers = (_image_pair_report(spark, sf_dir)
              .select(F.col("doc_b").alias("doc_id")).distinct())
    return (docs.join(losers, "doc_id", "left_anti")
            .select("doc_id", "source", "lang", "n_chars"))


def image_band_entries(fps: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_val) long form — the banded index rows
    a persisted store holds (4 rows x ~12 B per image; the fps wide
    form stays beside it for the exact Hamming verify)."""
    return fps.select(
        "doc_id",
        F.expr("stack(4, 0, band0, 1, band1, 2, band2, 3, band3) "
               "AS (band_id, band_val)"))


def image_incremental_from_index(band_index: DataFrame,
                                 seen_fps: DataFrame,
                                 batch_fps: DataFrame) -> DataFrame:
    """``band_index``: persisted (doc_id, band_id, band_val) rows;
    ``seen_fps``: persisted wide fingerprints; ``batch_fps``: the
    arriving batch's fingerprints.  Returns every batch x seen
    near-dup pair (batch_doc, seen_doc, hamming <= IMG_HAMMING_MAX) —
    the incremental form of image_dedup_pairs: arriving images are
    fingerprinted once and banded ONLY against the persisted index,
    never re-hashing the corpus.  The seen side is hot-band capped
    (bucket_bounded hi, the ann_incremental_from_index convention —
    partial-agg counts, never a Window over the degenerate band);
    the batch_doc != seen_doc guard covers the streaming twin's
    at-least-once replay window."""
    from cga_logs_to_kinesis_spark.functions.buckets import (
        bucket_bounded,
    )

    seen_idx = bucket_bounded(
        band_index.select(F.col("doc_id").alias("seen_doc"),
                          "band_id", "band_val"),
        ["band_id", "band_val"], hi=IMG_MAX_BAND)
    b_blocks = image_band_entries(batch_fps).select(
        F.col("doc_id").alias("batch_doc"), "band_id", "band_val")
    cand = (b_blocks.join(seen_idx, ["band_id", "band_val"])
            .filter(F.col("batch_doc") != F.col("seen_doc"))
            .select("batch_doc", "seen_doc").distinct())
    fa = batch_fps.select(F.col("doc_id").alias("batch_doc"),
                          *[F.col(f"band{j}").alias(f"a{j}")
                            for j in range(IMG_BANDS)])
    fb = seen_fps.select(F.col("doc_id").alias("seen_doc"),
                         *[F.col(f"band{j}").alias(f"b{j}")
                           for j in range(IMG_BANDS)])
    ham = sum(F.expr(f"bit_count(a{j} ^ b{j})")
              for j in range(IMG_BANDS)).cast("long")
    return (cand.join(fa, "batch_doc").join(fb, "seen_doc")
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= IMG_HAMMING_MAX)
            .select("batch_doc", "seen_doc", "hamming"))


def q_image_dedup_incremental(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Crawl-drop split on doc_id % 5 (deliberately coprime to the
    IMG_GROUP = 4 variant cycle, so batch membership varies across a
    group's variants and real cross-split dup pairs exist)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    fps = scene_dhash_fingerprints(docs).localCheckpoint()
    seen = fps.filter(F.col("doc_id") % 5 < 4)
    batch = fps.filter(F.col("doc_id") % 5 == 4)
    return image_incremental_from_index(
        image_band_entries(seen), seen, batch)


def _img_pix_sql(i_expr: str) -> str:
    """DuckDB expression for pixel byte ``i_expr`` of the SCENE
    fixture (seed/brightness/override columns from the dims CTE)."""
    return (f"(CASE WHEN v = 1 AND ({i_expr}) = 0 THEN 255 "
            f"ELSE (((seed % {PIX_M}) * {PIX_A} + ({i_expr}) * {PIX_B} "
            f"+ (({i_expr}) * ({i_expr})) % {PIX_C}) "
            f"% {IMG_PIX_LEVELS}) + bright END)")


def _img_gray_sql() -> str:
    """Grid-cell gray sum at (gx, gy): r+g+b of the sampled pixel."""
    i = "((gy * h // 8) * w + (gx * w // 9)) * 3"
    return (f"list_sum(list_transform(range(0, 3), "
            f"c -> {_img_pix_sql(f'{i} + c')}))")


# Shared oracle CTE block ending in ``fps`` (doc_id, band0..band3) —
# the SQL twin of image_dhash over make_raw_media_scenes.
IMG_FPS_SQL_CTES = f"""
        dims AS (
            SELECT doc_id,
                   doc_id % {IMG_GROUP} AS v,
                   CASE WHEN doc_id % {IMG_GROUP} = 3
                        THEN 2 * doc_id + 1
                        ELSE 2 * (doc_id // {IMG_GROUP}) END AS seed,
                   CASE WHEN doc_id % {IMG_GROUP} = 3
                        THEN 0 ELSE doc_id % {IMG_GROUP} END AS bright
            FROM documents
        ), dims2 AS (
            SELECT *, 8 + seed % 25 AS w, 8 + (seed // 3) % 25 AS h
            FROM dims
        ), grid AS (
            SELECT doc_id, gx, gy, {_img_gray_sql()} AS gray
            FROM dims2,
                 (SELECT unnest(range(0, 9)) AS gx) gxs,
                 (SELECT unnest(range(0, 8)) AS gy) gys
        ), bits AS (
            SELECT a.doc_id, (a.gy * 8 + a.gx) AS t,
                   CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
            FROM grid a JOIN grid b
              ON a.doc_id = b.doc_id AND b.gy = a.gy
             AND b.gx = a.gx + 1
            WHERE a.gx < 8
        ), fps AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN t // 16 = 0
                        THEN bit * (1 << (t % 16)) ELSE 0 END)
                        AS BIGINT) AS band0,
                   CAST(SUM(CASE WHEN t // 16 = 1
                        THEN bit * (1 << (t % 16)) ELSE 0 END)
                        AS BIGINT) AS band1,
                   CAST(SUM(CASE WHEN t // 16 = 2
                        THEN bit * (1 << (t % 16)) ELSE 0 END)
                        AS BIGINT) AS band2,
                   CAST(SUM(CASE WHEN t // 16 = 3
                        THEN bit * (1 << (t % 16)) ELSE 0 END)
                        AS BIGINT) AS band3
            FROM bits GROUP BY doc_id
        )"""

# ``fps`` -> near-dup pair report (doc_a, doc_b, hamming), the SQL
# twin of _image_pair_report's band join + Hamming verify.
IMG_PAIRS_SQL_TAIL = f"""
        blocks AS (
            SELECT doc_id, b.band_id,
                   CASE b.band_id WHEN 0 THEN band0 WHEN 1 THEN band1
                        WHEN 2 THEN band2 ELSE band3 END AS band_val
            FROM fps,
                 (SELECT unnest(range(0, {IMG_BANDS})) AS band_id) b
        ), eligible AS (
            SELECT doc_id, band_id, band_val FROM (
                SELECT *, COUNT(*) OVER (
                    PARTITION BY band_id, band_val) AS bn
                FROM blocks
            ) WHERE bn > 1 AND bn <= {IMG_MAX_BAND}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM eligible a JOIN eligible b
              ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), impairs AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(bit_count(xor(x.band0, y.band0))
                      + bit_count(xor(x.band1, y.band1))
                      + bit_count(xor(x.band2, y.band2))
                      + bit_count(xor(x.band3, y.band3)) AS BIGINT)
                       AS hamming
            FROM cand c
            JOIN fps x ON c.doc_a = x.doc_id
            JOIN fps y ON c.doc_b = y.doc_id
        )"""

register(QuerySpec(
    "image_phash", q_image_phash,
    oracle=f"""
        WITH {IMG_FPS_SQL_CTES.strip()}
        SELECT doc_id, band0, band1, band2, band3
        FROM fps ORDER BY doc_id
    """,
    doc="REAL dHash perceptual fingerprints over decoded planted-"
        "scene images (9x8 grid, 64 comparison bits as 4 x 16-bit "
        "bands); oracle recomputes every pixel and bit in SQL",
    tags=("multimodal", "dedup", "north-star", "pandas-udf"),
))

register(QuerySpec(
    "image_dedup_pairs", q_image_dedup_pairs,
    oracle=f"""
        WITH {IMG_FPS_SQL_CTES.strip()}, {IMG_PAIRS_SQL_TAIL.strip()}
        SELECT doc_a, doc_b, hamming FROM impairs
        WHERE hamming <= {IMG_HAMMING_MAX}
    """,
    doc=f"image near-dup pairs: dHash bands equality-joined "
        f"(Manku block banding, detection guaranteed at Hamming <= "
        f"{IMG_HAMMING_MAX}), hot-band capped, exact Hamming verify "
        f"on candidates only",
    tags=("multimodal", "dedup", "north-star", "join", "pandas-udf"),
))

register(QuerySpec(
    "image_dedup_survivors", q_image_dedup_survivors,
    oracle=f"""
        WITH {IMG_FPS_SQL_CTES.strip()}, {IMG_PAIRS_SQL_TAIL.strip()},
        losers AS (
            SELECT DISTINCT doc_b FROM impairs
            WHERE hamming <= {IMG_HAMMING_MAX}
        )
        SELECT d.doc_id, d.source, d.lang, d.n_chars
        FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_b
        WHERE l.doc_b IS NULL
    """,
    doc="image dedup applied: drop every doc with a smaller-id "
        "near-dup partner (keep-first), pass everything else through",
    tags=("multimodal", "dedup", "north-star", "pandas-udf"),
))

register(QuerySpec(
    "image_dedup_incremental", q_image_dedup_incremental,
    oracle=f"""
        WITH {IMG_FPS_SQL_CTES.strip()},
        sblocks AS (
            SELECT doc_id, b.band_id,
                   CASE b.band_id WHEN 0 THEN band0 WHEN 1 THEN band1
                        WHEN 2 THEN band2 ELSE band3 END AS band_val
            FROM fps,
                 (SELECT unnest(range(0, {IMG_BANDS})) AS band_id) b
            WHERE doc_id % 5 < 4
        ), eligible AS (
            SELECT doc_id, band_id, band_val FROM (
                SELECT *, COUNT(*) OVER (
                    PARTITION BY band_id, band_val) AS bn
                FROM sblocks
            ) WHERE bn <= {IMG_MAX_BAND}
        ), bblocks AS (
            SELECT doc_id, b.band_id,
                   CASE b.band_id WHEN 0 THEN band0 WHEN 1 THEN band1
                        WHEN 2 THEN band2 ELSE band3 END AS band_val
            FROM fps,
                 (SELECT unnest(range(0, {IMG_BANDS})) AS band_id) b
            WHERE doc_id % 5 = 4
        ), cand AS (
            SELECT DISTINCT b.doc_id AS batch_doc, s.doc_id AS seen_doc
            FROM bblocks b JOIN eligible s
              ON b.band_id = s.band_id AND b.band_val = s.band_val
             AND b.doc_id != s.doc_id
        )
        SELECT c.batch_doc, c.seen_doc,
               CAST(bit_count(xor(x.band0, y.band0))
                  + bit_count(xor(x.band1, y.band1))
                  + bit_count(xor(x.band2, y.band2))
                  + bit_count(xor(x.band3, y.band3)) AS BIGINT)
                   AS hamming
        FROM cand c
        JOIN fps x ON c.batch_doc = x.doc_id
        JOIN fps y ON c.seen_doc = y.doc_id
        WHERE bit_count(xor(x.band0, y.band0))
            + bit_count(xor(x.band1, y.band1))
            + bit_count(xor(x.band2, y.band2))
            + bit_count(xor(x.band3, y.band3)) <= {IMG_HAMMING_MAX}
    """,
    doc="incremental image near-dup: an arriving crawl drop is "
        "fingerprinted once and banded ONLY against the persisted "
        "band index (batch x seen pairs, hot-band-capped seen side, "
        "exact Hamming verify) — never re-hashing the corpus",
    tags=("multimodal", "dedup", "north-star", "join", "incremental",
          "pandas-udf"),
))


# ---------------------------------------------------------------------------
# Audio path: REAL 16-bit PCM decode via the stdlib WAV codec
# (functions/wav.py) — the audio analogue of the PNG operators.
# Features are integer-exact (no floats anywhere): duration in exact
# microseconds, peak amplitude, x1e6 fixed-point mean square (the RMS
# surrogate that avoids sqrt, like char_diversity avoids log), and
# zero-crossing count on channel 0 — the cheap speech/noise/junk
# triage gates an audio curation pipeline runs before any model.
# ---------------------------------------------------------------------------

AUDIO_FEATURES = StructType([
    StructField("doc_id", LongType(), False),
    StructField("n_samples", LongType(), False),
    StructField("n_channels", IntegerType(), False),
    StructField("sample_rate", IntegerType(), False),
    StructField("duration_us", LongType(), False),
    StructField("peak", IntegerType(), False),
    StructField("mean_square_x1e6", LongType(), False),
    StructField("zero_crossings", LongType(), False),
])


def _audio_features_stage():
    import numpy as np

    from cga_logs_to_kinesis_spark.functions.wav import decode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("doc_id", "n_samples", "n_channels",
                                    "sample_rate", "duration_us", "peak",
                                    "mean_square_x1e6", "zero_crossings")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                a, rate = decode_wav(bytes(blob))
                n, nch = a.shape
                x = a.astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(n)
                rows["n_channels"].append(nch)
                rows["sample_rate"].append(rate)
                rows["duration_us"].append(n * 1_000_000 // rate)
                rows["peak"].append(int(np.abs(x).max()) if n else 0)
                rows["mean_square_x1e6"].append(
                    int((x * x).sum()) * 1_000_000 // (n * nch)
                    if n else 0)
                ch0 = x[:, 0]
                rows["zero_crossings"].append(
                    int((np.signbit(ch0[1:]) !=
                         np.signbit(ch0[:-1])).sum()) if n > 1 else 0)
            yield pd.DataFrame({
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "n_samples": pd.Series(rows["n_samples"], dtype="int64"),
                "n_channels": pd.Series(rows["n_channels"],
                                        dtype="int32"),
                "sample_rate": pd.Series(rows["sample_rate"],
                                         dtype="int32"),
                "duration_us": pd.Series(rows["duration_us"],
                                         dtype="int64"),
                "peak": pd.Series(rows["peak"], dtype="int32"),
                "mean_square_x1e6": pd.Series(rows["mean_square_x1e6"],
                                              dtype="int64"),
                "zero_crossings": pd.Series(rows["zero_crossings"],
                                            dtype="int64"),
            })

    return batches


def audio_features(media: DataFrame) -> DataFrame:
    """mapInPandas audio feature extraction over (doc_id, payload) WAV
    blobs.  Same Arrow topology as the image stages; all outputs are
    exact integers, so results are partitioning-independent."""
    return media.mapInPandas(_audio_features_stage(),
                             schema=AUDIO_FEATURES)


def _wav_media_stage():
    from cga_logs_to_kinesis_spark.functions.wav import encode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 400 + d % 800
                nch = 1 + d % 2
                rate = (8000, 16000, 44100)[d % 3]
                payloads.append(
                    encode_wav(hash_pcm_samples(d, n, nch), rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    return batches


def make_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic WAV fixture blobs hashed from doc_id: varying
    length, rate, and channel count, int16 hash-noise samples
    (hash_pcm_samples, recomputable by the _pcm_sql oracle) — so
    decode under test is a real codec decode with real variety."""
    return (media_schema_df(docs)
            .mapInPandas(_wav_media_stage(),
                         schema="doc_id long, payload binary"))


def q_multimodal_audio_features(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """WAV media blobs → REAL stdlib-codec decode → integer-exact
    audio triage features.  Oracle-paired: samples are hash-generated
    (hash_pcm_samples), so DuckDB replays every decoded int16 from
    _pcm_sql; the decode itself is still the real stdlib WAV parser,
    double-pinned by pytest recomputation."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _fused_map(
        media_schema_df(docs),
        [_wav_media_stage(), _audio_features_stage()],
        AUDIO_FEATURES).orderBy("doc_id")


register(QuerySpec(
    "multimodal_audio_features", q_multimodal_audio_features,
    oracle=f"""
        WITH p AS (
            SELECT doc_id,
                   400 + doc_id % 800 AS n,
                   1 + doc_id % 2 AS nch,
                   CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END AS rate
            FROM documents
        ), s AS (
            SELECT doc_id, n, nch, rate,
                   list_transform(range(0, n*nch),
                                  j -> {_pcm_sql('j')}) AS v,
                   -- channel 0 of the interleaved frame: j = t*nch
                   list_transform(range(0, n),
                                  t -> {_pcm_sql('t*nch')}) AS ch0
            FROM p
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_samples,
               CAST(nch AS INT) AS n_channels,
               CAST(rate AS INT) AS sample_rate,
               n * 1000000 // rate AS duration_us,
               CAST(list_max(list_transform(v, x -> abs(x))) AS INT)
                   AS peak,
               CAST(list_sum(list_transform(v, x -> x*x)) * 1000000
                   // (n*nch) AS BIGINT) AS mean_square_x1e6,
               -- 1-indexed lists: ch0[t+1] is 0-based sample t
               CAST(len(list_filter(range(1, n),
                        t -> (ch0[t+1] < 0) != (ch0[t] < 0)))
                    AS BIGINT) AS zero_crossings
        FROM s
        ORDER BY doc_id
    """,
    doc="REAL WAV (16-bit PCM) decode via the stdlib codec + "
        "integer-exact audio triage features (duration, peak, mean "
        "square, zero crossings); oracle replays the hashed PCM in SQL",
    tags=("multimodal", "north-star", "pandas-udf", "audio"),
))


# ---------------------------------------------------------------------------
# Video path: REAL frame extraction from a length-indexed container.
# ---------------------------------------------------------------------------
# Real video codecs (H.264 etc.) need ffmpeg, genuinely absent here —
# but the *pipeline shape* of video ingestion is container parse →
# seek to sampled frames → decode only those → per-frame features,
# and that shape is fully realizable with the stdlib PNG codec: an
# "MPNG" container (magic + frame count + length-prefixed PNG frames)
# stands in for the codec format.  The length index means a sampler
# taking every Nth frame SKIPS the bytes of unsampled frames instead
# of decoding them — the same reason real pipelines seek keyframes —
# so cost scales with frames *kept*, not frames *stored*.  Swapping
# decode_png for an ffmpeg call is the only change real video needs.

MPNG_MAGIC = b"MPNG"
_U32 = struct.Struct(">I")


def encode_mpng(frames) -> bytes:
    """Concatenate PNG-encoded frames into a length-indexed container."""
    out = [MPNG_MAGIC, _U32.pack(len(frames))]
    for arr in frames:
        png = encode_png(arr)
        out.append(_U32.pack(len(png)))
        out.append(png)
    return b"".join(out)


def iter_mpng_frames(blob: bytes, every_nth: int = 1):
    """Yield (frame_index, png_bytes) for every Nth frame, skipping —
    not decoding — the rest via the length index."""
    if blob[:4] != MPNG_MAGIC:
        raise ValueError("not an MPNG container")
    (n,) = _U32.unpack_from(blob, 4)
    off = 8
    for i in range(n):
        (ln,) = _U32.unpack_from(blob, off)
        off += 4
        if i % every_nth == 0:
            yield i, blob[off:off + ln]
        off += ln


VIDEO_FRAMES = StructType([
    StructField("doc_id", LongType(), False),
    StructField("frame_index", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("sum_r", LongType(), False),
    StructField("sum_g", LongType(), False),
    StructField("sum_b", LongType(), False),
    StructField("frame_digest", StringType(), False),
])


def _video_frames_stage(every_nth: int = 3):
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("doc_id", "frame_index", "width",
                                    "height", "sum_r", "sum_g", "sum_b",
                                    "frame_digest")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                for i, png in iter_mpng_frames(bytes(blob), every_nth):
                    arr = decode_png(png)
                    h, w = arr.shape[0], arr.shape[1]
                    s = arr.astype(np.int64).sum(axis=(0, 1))
                    rows["doc_id"].append(doc_id)
                    rows["frame_index"].append(i)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sum_r"].append(int(s[0]))
                    rows["sum_g"].append(int(s[1]))
                    rows["sum_b"].append(int(s[2]))
                    # fingerprint = md5 of the LOWERCASE HEX encoding
                    # of the raw pixel buffer: same identity power as
                    # md5(bytes), but reproducible in SQL (DuckDB md5
                    # only takes VARCHAR) so the oracle can replay it
                    rows["frame_digest"].append(hashlib.md5(
                        arr.tobytes().hex().encode()).hexdigest())
            yield pd.DataFrame({
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "frame_index": pd.Series(rows["frame_index"],
                                         dtype="int32"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
                "sum_r": pd.Series(rows["sum_r"], dtype="int64"),
                "sum_g": pd.Series(rows["sum_g"], dtype="int64"),
                "sum_b": pd.Series(rows["sum_b"], dtype="int64"),
                "frame_digest": rows["frame_digest"],
            })

    return batches


def _mpng_media_stage(n_frames: int = 12):
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 6 + d % 9, 6 + (d // 2) % 9
                frames = [
                    hash_pixel_bytes(d * 1000 + i, w * h * 3)
                    .reshape(h, w, 3)
                    for i in range(n_frames)
                ]
                payloads.append(encode_mpng(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    return batches


def q_multimodal_video_frames(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """MPNG 'video' blobs (12 deterministic frames) → sample every 3rd
    frame → REAL PNG decode → integer-exact per-frame features.
    Oracle-paired: frame pixels are hash-generated, so DuckDB replays
    the decoded bytes per (doc, frame) — container parse + PNG decode
    stay real, double-pinned by pytest recomputation."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _fused_map(
        media_schema_df(docs),
        [_mpng_media_stage(), _video_frames_stage(every_nth=3)],
        VIDEO_FRAMES).orderBy("doc_id", "frame_index")


def _frame_sum_sql(channel: int) -> str:
    seed = "doc_id * 1000 + frame_index"
    return (f"CAST(list_sum(list_transform(range(0, w*h), "
            f"k -> {_pix_sql(f'k*3+{channel}', seed)})) AS BIGINT)")


# md5 of the lowercase-hex pixel buffer (to_hex is uppercase: lower()).
_FRAME_DIGEST_SQL = (
    "md5(list_aggregate(list_transform(range(0, w*h*3), "
    "j -> lpad(lower(to_hex(" + _pix_sql("j", "doc_id * 1000 + frame_index")
    + ")), 2, '0')), 'string_agg', ''))")

register(QuerySpec(
    "multimodal_video_frames", q_multimodal_video_frames,
    oracle=f"""
        WITH dims AS (
            SELECT doc_id,
                   6 + doc_id % 9 AS w,
                   6 + (doc_id // 2) % 9 AS h
            FROM documents
        ), frames AS (
            SELECT doc_id, w, h, f.i AS frame_index
            FROM dims, (VALUES (0), (3), (6), (9)) f(i)
        )
        SELECT doc_id,
               CAST(frame_index AS INT) AS frame_index,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               {_frame_sum_sql(0)} AS sum_r,
               {_frame_sum_sql(1)} AS sum_g,
               {_frame_sum_sql(2)} AS sum_b,
               {_FRAME_DIGEST_SQL} AS frame_digest
        FROM frames
        ORDER BY doc_id, frame_index
    """,
    doc="video-shaped frame sampling: length-indexed MPNG container, "
        "seek-skip to every Nth frame, REAL PNG decode, integer-exact "
        "channel sums (1 blob -> many rows, executor-side); oracle "
        "replays the hashed frames in SQL",
    tags=("multimodal", "north-star", "pandas-udf", "video"),
))
