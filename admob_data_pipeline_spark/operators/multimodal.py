"""Multimodal column plumbing (BASELINE.json north-star: image/audio/video
as opaque binary columns with typed metadata).

The container has no codec LIBRARIES, so compressed-format decode (PNG/
JPEG/video) stays env-gated (NotImplementedError seam in decode_image) —
but uncompressed formats need no library and are decoded FOR REAL here:
24-bit BMP (``decode_bmp_features``: numpy header parse, stride/padding,
bottom-up flip, channel split) and 16-bit PCM WAV
(``decode_wav_features``: RIFF chunk walk, de-interleave) — both
oracle-checked against closed-form pixel/sample math. Everything
Spark-side is real and tested:

- the schema contract: ``media BINARY`` + ``media_meta STRUCT<media_type,
  byte_len, checksum>`` (opaque payload, typed envelope);
- ``extract_metadata`` runs through ``mapInPandas`` — Arrow-batched
  iterator-of-DataFrames, the shape a real decoder (PIL/ffmpeg) plugs
  into; one partition = a stream of record batches, no per-row Python;
- ``frame_sample`` (the video path) is pure column expressions: fixed-size
  byte windows exploded to frames — no Python at all, scales as a map-only
  stage.

At 100 TB: binary payloads dominate storage — they are carried as parquet
binary (never shuffled except by explicit repartition), metadata extraction
is map-only, and any real decode is Arrow-batched so Python cost is
per-batch, not per-row.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admob_data_pipeline_spark.sources.scratch import scratch_dir
from admob_data_pipeline_spark.sources.tables import load_table

FRAME_BYTES = 256

META_SCHEMA = (
    "doc_id bigint, media_type string, byte_len bigint, checksum string, "
    "width int, height int"
)


def pack_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Fixture generator: wrap each document's UTF-8 bytes as an opaque
    media blob with a typed metadata envelope (production path ingests real
    image/audio bytes with the same schema)."""
    blob = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        blob.alias("media"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            F.octet_length(blob).cast("long").alias("byte_len"),
            F.md5(blob).alias("checksum"),
        ).alias("media_meta"),
    )


def fake_decode_dims(byte_len: int) -> tuple[int, int]:
    """Deterministic stand-in for a codec's (width, height). A real decoder
    (PIL.Image.open etc.) replaces this function only — the Spark plumbing
    (batching, schema, partitioning) is unchanged."""
    return 64 + byte_len % 576, 64 + (byte_len * 7) % 416


def extract_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction via mapInPandas.

    The UDF receives an iterator of pandas DataFrames (one per Arrow batch)
    and yields transformed batches — the canonical shape for plugging in a
    real decoder while keeping Python overhead per-batch.
    """

    # NOTE: the closure must be self-contained (stdlib/pandas only). A
    # reference to any module-global here would make cloudpickle serialize
    # it by module name, and Spark's Python workers don't have this repo on
    # their sys.path when the driver runs from elsewhere.
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            blobs = pdf["media"]
            byte_len = blobs.map(len)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_meta"].map(lambda m: m["media_type"]),
                    "byte_len": byte_len,
                    "checksum": blobs.map(
                        lambda b: _hashlib.md5(bytes(b)).hexdigest()
                    ),
                    # keep in sync with fake_decode_dims (pinned by
                    # tests/test_multimodal.py::test_extract_metadata_roundtrip)
                    "width": byte_len.map(lambda n: 64 + n % 576),
                    "height": byte_len.map(lambda n: 64 + (n * 7) % 416),
                }
            )

    return media.mapInPandas(process, schema=META_SCHEMA)


def decode_image(media: DataFrame) -> DataFrame:
    """Real codec path — gated on the library actually being present."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "image decode requires PIL; container provides no codecs — "
            "use extract_metadata (stub decode) instead"
        ) from exc
    raise NotImplementedError("real decode not implemented in this environment")


def frame_sample(media: DataFrame, frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Video-style frame sampling: fixed-size byte windows → one row per
    frame, pure column expressions (no Python)."""
    n_frames = F.ceil(F.col("media_meta.byte_len") / F.lit(frame_bytes)).cast("int")
    frames = media.select(
        "doc_id",
        "media",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    )
    frame = F.expr(f"substring(media, frame_idx * {frame_bytes} + 1, {frame_bytes})")
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5(frame).alias("frame_md5"),
        F.octet_length(frame).cast("int").alias("frame_bytes"),
    )


def frame_dedup(media: DataFrame, frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Content-defined chunk dedup across media blobs: identical fixed-size
    frames (by md5) are storage-dedup candidates — the move that collapses
    re-encoded/copied video segments in a 100 TB media lake.

    One groupBy on the frame hash; only the 16-byte hash + (doc, idx)
    coordinates shuffle, never the frame bytes. Canonical copy = lowest
    (doc_id, frame_idx)."""
    frames = frame_sample(media, frame_bytes)
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "frame_idx")).alias("canon"),
        )
        .where(F.col("n_copies") > 1)
        .select(
            "frame_md5",
            "n_copies",
            "n_docs",
            F.col("canon.doc_id").alias("canon_doc_id"),
            F.col("canon.frame_idx").alias("canon_frame_idx"),
        )
        .orderBy("frame_md5")
    )


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int"
)
TARGET_W = 224
TARGET_H = 224

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len bigint, h0 bigint, h1 bigint, h2 bigint, "
    "h3 bigint, mean_byte_milli bigint"
)


def resize_images(
    media: DataFrame, target_w: int = TARGET_W, target_h: int = TARGET_H
) -> DataFrame:
    """Aspect-preserving resize planning via mapInPandas: compute each
    image's fitted (new_width, new_height) inside a target box. The pixel
    resample itself is the codec-gated step (PIL.thumbnail et al.); the
    dimension arithmetic — the part that decides shuffle volume and batch
    shapes downstream — is exact INTEGER math (cross-multiplied aspect
    comparison, floor division), so the whole planning pass is
    deterministic and oracle-checkable without codecs.

    Scale: map-only Arrow batches; nothing shuffles."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        tw, th = target_w, target_h

        for pdf in batches:
            byte_len = pdf["media"].map(len)
            w = byte_len.map(lambda n: 64 + n % 576)
            h = byte_len.map(lambda n: 64 + (n * 7) % 416)
            # fit into (tw, th): scale = min(tw/w, th/h), integer-exact
            wide = tw * h <= th * w  # limiting side is width
            new_w = _pd.Series(
                [tw if wd else (ww * th) // hh for wd, ww, hh in zip(wide, w, h)],
                index=pdf.index,
            )
            new_h = _pd.Series(
                [(hh * tw) // ww if wd else th for wd, ww, hh in zip(wide, w, h)],
                index=pdf.index,
            )
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "new_width": new_w,
                    "new_height": new_h,
                }
            )

    return media.mapInPandas(process, schema=RESIZE_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Per-blob feature extraction via mapInPandas: a 4-bucket byte
    histogram (byte >> 6) and the int-scaled mean byte value — the
    deterministic stand-in for an embedding/feature model, with the real
    Arrow batch plumbing a model server would plug into (numpy over
    ``frombuffer``, vectorized per batch, no per-row Python).

    Scale: map-only; features are 5 ints per blob, so the output shuffles
    cheaply wherever it feeds (clustering, dedup, stats)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                arr = _np.frombuffer(bytes(blob), dtype=_np.uint8)
                hist = _np.bincount(arr >> 6, minlength=4)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "byte_len": len(arr),
                        "h0": int(hist[0]),
                        "h1": int(hist[1]),
                        "h2": int(hist[2]),
                        "h3": int(hist[3]),
                        # mean in milli-units as exact integer division
                        "mean_byte_milli": int(arr.sum()) * 1000 // len(arr),
                    }
                )
            yield _pd.DataFrame(rows)

    return media.mapInPandas(process, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------- queries

def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = pack_binary(load_table(spark, sf_dir, "documents"))
    return extract_metadata(media).orderBy("doc_id")


_ORACLE_METADATA = """
SELECT doc_id,
       'image/fake' AS media_type,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
       md5(text) AS checksum,
       CAST(64 + octet_length(CAST(text AS BLOB)) % 576 AS INT) AS width,
       CAST(64 + (octet_length(CAST(text AS BLOB)) * 7) % 416 AS INT) AS height
FROM documents
ORDER BY doc_id
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = pack_binary(load_table(spark, sf_dir, "documents"))
    return frame_sample(media).orderBy("doc_id", "frame_idx")


_ORACLE_FRAMES = f"""
WITH d AS (
    SELECT doc_id, text, CAST(CEIL(octet_length(CAST(text AS BLOB)) / {FRAME_BYTES}.0)
           AS INT) AS n_frames
    FROM documents
),
f AS (
    SELECT doc_id, text,
           unnest(generate_series(0, n_frames - 1)) AS frame_idx
    FROM d
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       md5(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5,
       CAST(octet_length(CAST(substr(text, frame_idx * {FRAME_BYTES} + 1,
            {FRAME_BYTES}) AS BLOB)) AS INT) AS frame_bytes
FROM f
ORDER BY doc_id, frame_idx
"""


def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = pack_binary(load_table(spark, sf_dir, "documents"))
    return frame_dedup(media)


_ORACLE_FRAME_DEDUP = f"""
WITH d AS (
    SELECT doc_id, text, CAST(CEIL(octet_length(CAST(text AS BLOB)) / {FRAME_BYTES}.0)
           AS INT) AS n_frames
    FROM documents
),
f AS (
    SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx, text FROM d
),
h AS (
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           md5(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
    FROM f
)
SELECT frame_md5,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS canon_doc_id,
       CAST(MIN(frame_idx) FILTER (WHERE doc_id = (SELECT MIN(doc_id) FROM h h2
            WHERE h2.frame_md5 = h.frame_md5)) AS INT) AS canon_frame_idx
FROM h
GROUP BY frame_md5
HAVING COUNT(*) > 1
ORDER BY frame_md5
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = pack_binary(load_table(spark, sf_dir, "documents"))
    return resize_images(media).orderBy("doc_id")


_ORACLE_RESIZE = f"""
WITH d AS (
    SELECT doc_id,
           64 + octet_length(CAST(text AS BLOB)) % 576 AS w,
           64 + (octet_length(CAST(text AS BLOB)) * 7) % 416 AS h
    FROM documents
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(CASE WHEN {TARGET_W} * h <= {TARGET_H} * w
                 THEN {TARGET_W} ELSE (w * {TARGET_H}) // h END AS INT) AS new_width,
       CAST(CASE WHEN {TARGET_W} * h <= {TARGET_H} * w
                 THEN (h * {TARGET_W}) // w ELSE {TARGET_H} END AS INT) AS new_height
FROM d
ORDER BY doc_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = pack_binary(load_table(spark, sf_dir, "documents"))
    return extract_features(media).orderBy("doc_id")


_ORACLE_FEATURES = """
WITH chars AS (
    SELECT doc_id, ascii(unnest(string_split(text, ''))) AS code
    FROM documents
)
SELECT doc_id,
       COUNT(*) AS byte_len,
       CAST(SUM(CASE WHEN code // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
       CAST(SUM(CASE WHEN code // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
       CAST(SUM(CASE WHEN code // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
       CAST(SUM(CASE WHEN code // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
       CAST(SUM(code) * 1000 // COUNT(*) AS BIGINT) AS mean_byte_milli
FROM chars
GROUP BY doc_id
ORDER BY doc_id
"""


# --- media shard packing -----------------------------------------------------
SHARD_BYTES = 4096  # test-scale shard capacity (production: ~1 GB tar shards)
SHARD_BUCKETS = 8


def pack_media_shards(
    media: DataFrame,
    capacity: int = SHARD_BYTES,
    n_buckets: int = SHARD_BUCKETS,
) -> DataFrame:
    """WebDataset-style shard planning: assign media files to fixed-byte
    output shards (greedy-contiguous by doc_id within a bucket), emitting
    the shard manifest a downstream tar-writer consumes. Same exact
    integer cumsum/DIV machinery as sequence packing (packing.py), keyed
    on byte_len instead of token count.

    Scale: one shuffle on bucket; the window's cumulative sum carries one
    BIGINT per row; buckets bound the window partitions (|corpus|/n_buckets
    rows each — at 100 TB pick n_buckets ≈ number of output shards/1e3).
    """
    from pyspark.sql import Window

    sized = media.select(
        "doc_id",
        (F.col("doc_id") % n_buckets).cast("long").alias("bucket"),
        F.col("media_meta.byte_len").alias("n_bytes"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum", F.sum("n_bytes").over(w))
        .withColumn(
            "shard_id", F.expr(f"(cum - n_bytes) DIV CAST({capacity} AS BIGINT)")
        )
        .groupBy("bucket", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bucket", "shard_id")
    )


def q_multimodal_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_media_shards(pack_binary(docs))


_ORACLE_MEDIA_PACKING = f"""
WITH sized AS (
    SELECT doc_id, doc_id % {SHARD_BUCKETS} AS bucket,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
    FROM documents
),
cums AS (
    SELECT doc_id, bucket, n_bytes,
           SUM(n_bytes) OVER (PARTITION BY bucket ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
    FROM sized
)
SELECT bucket, CAST((cum - n_bytes) // {SHARD_BYTES} AS BIGINT) AS shard_id,
       COUNT(*) AS n_files,
       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM cums
GROUP BY bucket, CAST((cum - n_bytes) // {SHARD_BYTES} AS BIGINT)
ORDER BY bucket, shard_id
"""


# --- REAL image decode: BMP (uncompressed) -----------------------------------
#
# The container has no codec libraries, but 24-bit uncompressed BMP needs
# none — the format is a 54-byte header + bottom-up BGR rows padded to 4
# bytes, fully parseable with numpy. This closes the "decode is stubbed"
# gap for the uncompressed case: the kernel below does REAL pixel
# decoding (header parse, stride/padding, vertical flip, channel split),
# and compressed formats (PNG/JPEG) remain the env-gated PIL seam in
# fake_decode_dims. Synthetic images are a deterministic closed form of
# (img, x, y), so the DuckDB oracle recomputes the per-channel sums from
# first principles — a wrong stride, a missed flip, or swapped channels
# fails the hash.

BMP_N_IMAGES = 8


def _bmp_dims(img: int) -> tuple[int, int]:
    """Per-image (width, height): widths 16..23 sweep every 4-byte row
    padding (0..3 bytes), heights vary so a transposed decode cannot
    accidentally hash-match."""
    return 16 + img, 9 + (img % 3) * 2


def _bmp_pixel(img: int, x: int, y: int) -> tuple[int, int, int]:
    """Closed-form (r, g, b) of (img, x, y) — mirrored by the oracle."""
    return (
        (3 * x + 5 * y + 29 * img) % 256,
        (5 * x + y + 17 * img) % 256,
        (7 * x + 3 * y + 11 * img) % 256,
    )


def make_bmp(img: int) -> bytes:
    """A real 24-bit uncompressed BMP: BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up BGR rows, each padded to 4 bytes."""
    import struct

    w, h = _bmp_dims(img)
    pad = (4 - (3 * w) % 4) % 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        for x in range(w):
            r, g, b = _bmp_pixel(img, x, y)
            rows += bytes((b, g, r))  # BGR on disk
        rows += b"\x00" * pad
    size = 54 + len(rows)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0
    )
    return header + bytes(rows)


def decode_bmp_features(files: DataFrame) -> DataFrame:
    """REAL decode of 24-bit BMP payloads from a ``binaryFile`` scan:
    an Arrow-batched mapInPandas kernel parses the header (offset,
    dims, bpp, compression), reshapes the padded bottom-up BGR rows
    with numpy, flips to logical orientation, and emits per-channel
    integer sums + dims. Per-batch Python, per-image numpy — the exact
    seam a PIL/ffmpeg decoder plugs into for compressed formats.

    The kernel is self-contained (stdlib+numpy+pandas only — Spark
    workers don't share the driver's sys.path)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as np

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                buf = bytes(row["content"])
                if buf[:2] != b"BM":
                    raise ValueError("not a BMP payload")
                off = _struct.unpack_from("<I", buf, 10)[0]
                w, h = _struct.unpack_from("<ii", buf, 18)
                bpp = _struct.unpack_from("<H", buf, 28)[0]
                comp = _struct.unpack_from("<I", buf, 30)[0]
                if bpp != 24 or comp != 0:
                    raise NotImplementedError(
                        "only 24-bit uncompressed BMP is decoded natively"
                    )
                stride = (3 * w + 3) & ~3
                px = (
                    np.frombuffer(buf, np.uint8, stride * h, off)
                    .reshape(h, stride)[:, : 3 * w]
                    .reshape(h, w, 3)[::-1]  # bottom-up → logical rows
                    .astype(np.int64)
                )
                out.append(
                    (
                        row["file"],
                        w,
                        h,
                        int(px[:, :, 2].sum()),  # BGR on disk
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 0].sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "width", "height", "r_sum", "g_sum", "b_sum",
                ],
            )

    return files.mapInPandas(
        kernel,
        schema=(
            "file string, width int, height int, "
            "r_sum bigint, g_sum bigint, b_sum bigint"
        ),
    )


def q_multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real image path: deterministic BMPs land as files,
    enter through the ``binaryFile`` source, and are pixel-decoded by
    the numpy kernel; the oracle recomputes dims + channel sums from
    the generating closed form. (``sf_dir`` is unused — the fixture is
    the format itself — but kept for the registry signature.)"""
    with scratch_dir() as out:
        for img in range(BMP_N_IMAGES):
            with open(os.path.join(out, f"img-{img}.bmp"), "wb") as fh:
                fh.write(make_bmp(img))
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bmp")
            .load(out)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
                "content",
            )
        )
        rows = decode_bmp_features(files).orderBy("file").collect()
    return spark.createDataFrame(
        rows,
        "file string, width int, height int,"
        " r_sum bigint, g_sum bigint, b_sum bigint",
    )


_ORACLE_BMP_DECODE = f"""
WITH imgs AS (
    SELECT i AS img, 16 + i AS w, 9 + (i % 3) * 2 AS h
    FROM (SELECT unnest(generate_series(0, {BMP_N_IMAGES - 1})) AS i)
),
px AS (
    SELECT img, w, h, idx % w AS x, idx // w AS y
    FROM (
        SELECT img, w, h, unnest(generate_series(0, w * h - 1)) AS idx
        FROM imgs
    )
)
SELECT 'img-' || img || '.bmp' AS file,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(SUM((3 * x + 5 * y + 29 * img) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((5 * x + y + 17 * img) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((7 * x + 3 * y + 11 * img) % 256) AS BIGINT) AS b_sum
FROM px
GROUP BY img, w, h
ORDER BY file
"""


# --- REAL audio decode: PCM WAV (uncompressed) --------------------------------

WAV_N_CLIPS = 6


def _wav_shape(clip: int) -> tuple[int, int, int]:
    """(sample_rate, n_channels, n_samples) per clip — rates and channel
    counts vary so a decoder that assumes one layout fails the hash."""
    return (8000 + clip * 1000, 1 + clip % 2, 800 + clip * 50)


def _wav_sample(clip: int, ch: int, i: int) -> int:
    """Closed-form int16 sample — mirrored by the oracle."""
    return ((i * (7 + clip) + ch * 13 + clip * 101) % 65536) - 32768


def make_wav(clip: int) -> bytes:
    """A real PCM WAV: RIFF container, fmt chunk, a LIST filler chunk
    BEFORE data (so a decoder that hard-codes the data offset at byte 44
    instead of walking chunks reads garbage), then interleaved int16
    frames."""
    import struct

    rate, n_ch, n_samples = _wav_shape(clip)
    frames = bytearray()
    for i in range(n_samples):
        for ch in range(n_ch):
            frames += struct.pack("<h", _wav_sample(clip, ch, i))
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16
    )
    filler = b"INFOpadpadpz"
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(filler)) + filler
        + b"data" + struct.pack("<I", len(frames)) + bytes(frames)
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav_features(files: DataFrame) -> DataFrame:
    """REAL decode of PCM WAV payloads from a ``binaryFile`` scan: the
    Arrow-batched kernel WALKS the RIFF chunks (fmt may not be adjacent
    to data — the generator plants a LIST chunk between them), validates
    PCM/16-bit, de-interleaves with numpy, and emits per-channel exact
    integer sums + |sum|s. Compressed audio (mp3/ogg) remains the
    env-gated library seam. Self-contained kernel (stdlib+numpy+pandas)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as np

        def parse(buf: bytes):
            if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
                raise ValueError("not a WAV payload")
            pos, fmt, data = 12, None, None
            while pos + 8 <= len(buf):
                cid = buf[pos : pos + 4]
                ln = _struct.unpack_from("<I", buf, pos + 4)[0]
                body = buf[pos + 8 : pos + 8 + ln]
                if cid == b"fmt ":
                    fmt = body
                elif cid == b"data":
                    data = body
                pos += 8 + ln + (ln & 1)  # chunks are word-aligned
            if fmt is None or data is None:
                raise ValueError("missing fmt/data chunk")
            codec, n_ch, rate, _, _, bits = _struct.unpack_from(
                "<HHIIHH", fmt, 0
            )
            if codec != 1 or bits != 16:
                raise NotImplementedError(
                    "only 16-bit PCM WAV is decoded natively"
                )
            return rate, n_ch, data

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                rate, n_ch, data = parse(bytes(row["content"]))
                x = np.frombuffer(data, "<i2").astype(np.int64)
                x = x.reshape(-1, n_ch)  # de-interleave
                sums = [int(x[:, c].sum()) for c in range(n_ch)] + [0]
                abss = [int(np.abs(x[:, c]).sum()) for c in range(n_ch)] + [0]
                out.append(
                    (
                        row["file"], rate, n_ch, x.shape[0],
                        sums[0], abss[0], sums[1] if n_ch > 1 else 0,
                        abss[1] if n_ch > 1 else 0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "sample_rate", "n_channels", "n_samples",
                    "sum_ch0", "abs_sum_ch0", "sum_ch1", "abs_sum_ch1",
                ],
            )

    return files.mapInPandas(
        kernel,
        schema=(
            "file string, sample_rate int, n_channels int,"
            " n_samples bigint, sum_ch0 bigint, abs_sum_ch0 bigint,"
            " sum_ch1 bigint, abs_sum_ch1 bigint"
        ),
    )


def q_multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real audio path: deterministic PCM WAVs (varying
    rates, mono AND stereo, a filler chunk between fmt and data) enter
    through ``binaryFile`` and are sample-decoded by the numpy kernel;
    the oracle recomputes every per-channel sum from the generating
    closed form."""
    with scratch_dir() as out:
        for clip in range(WAV_N_CLIPS):
            with open(os.path.join(out, f"clip-{clip}.wav"), "wb") as fh:
                fh.write(make_wav(clip))
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.wav")
            .load(out)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
                "content",
            )
        )
        rows = decode_wav_features(files).orderBy("file").collect()
    return spark.createDataFrame(
        rows,
        "file string, sample_rate int, n_channels int, n_samples bigint,"
        " sum_ch0 bigint, abs_sum_ch0 bigint, sum_ch1 bigint,"
        " abs_sum_ch1 bigint",
    )


_ORACLE_WAV_DECODE = f"""
WITH clips AS (
    SELECT c AS clip, 8000 + c * 1000 AS rate, 1 + c % 2 AS n_ch,
           800 + c * 50 AS n_samples
    FROM (SELECT unnest(generate_series(0, {WAV_N_CLIPS - 1})) AS c)
),
samples AS (
    SELECT clip, rate, n_ch, n_samples, ch.ch AS ch, i,
           ((i * (7 + clip) + ch.ch * 13 + clip * 101) % 65536) - 32768 AS s
    FROM (
        SELECT clip, rate, n_ch, n_samples,
               unnest(generate_series(0, n_samples - 1)) AS i
        FROM clips
    ), (SELECT unnest([0, 1]) AS ch) ch
    WHERE ch.ch < n_ch
),
per_ch AS (
    SELECT clip, rate, n_ch, n_samples, ch,
           CAST(SUM(s) AS BIGINT) AS sum_s,
           CAST(SUM(ABS(s)) AS BIGINT) AS abs_s
    FROM samples GROUP BY clip, rate, n_ch, n_samples, ch
)
SELECT 'clip-' || clip || '.wav' AS file,
       CAST(rate AS INT) AS sample_rate,
       CAST(n_ch AS INT) AS n_channels,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN ch = 0 THEN sum_s ELSE 0 END) AS BIGINT) AS sum_ch0,
       CAST(SUM(CASE WHEN ch = 0 THEN abs_s ELSE 0 END) AS BIGINT)
           AS abs_sum_ch0,
       CAST(SUM(CASE WHEN ch = 1 THEN sum_s ELSE 0 END) AS BIGINT) AS sum_ch1,
       CAST(SUM(CASE WHEN ch = 1 THEN abs_s ELSE 0 END) AS BIGINT)
           AS abs_sum_ch1
FROM per_ch
GROUP BY clip, rate, n_ch, n_samples
ORDER BY file
"""


# --- feature extraction over the REAL decoders --------------------------------
# The decode queries prove the bytes→pixels/samples path; these prove the
# FEATURE path a training pipeline actually runs on top of it — framed
# audio energy/zero-crossings and tiled image intensity — in the same
# Arrow-batched kernels, with every feature an exact integer the DuckDB
# oracle recomputes from the generating closed form.

AUDIO_FRAME = 200  # samples per analysis frame
AUDIO_HOP = 100  # frame hop (50% overlap)
IMG_TILE = 8  # tile side in pixels


def decode_wav_frame_features(files: DataFrame) -> DataFrame:
    """Framed audio features over channel 0 of the decoded PCM: per
    (file, frame) exact integer energy (Σ s²) and zero-crossing count —
    the two cheapest VAD/silence-trim signals. Frames are
    ``AUDIO_FRAME`` samples at ``AUDIO_HOP`` hop (trailing partial
    frame dropped, standard framing). Self-contained kernel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as np

        FRAME, HOP = 200, 100  # keep the kernel closure self-contained

        def parse(buf: bytes):
            pos, fmt, data = 12, None, None
            while pos + 8 <= len(buf):
                cid = buf[pos : pos + 4]
                ln = _struct.unpack_from("<I", buf, pos + 4)[0]
                body = buf[pos + 8 : pos + 8 + ln]
                if cid == b"fmt ":
                    fmt = body
                elif cid == b"data":
                    data = body
                pos += 8 + ln + (ln & 1)
            _, n_ch, _, _, _, _ = _struct.unpack_from("<HHIIHH", fmt, 0)
            return n_ch, data

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                n_ch, data = parse(bytes(row["content"]))
                x0 = (
                    np.frombuffer(data, "<i2")
                    .astype(np.int64)
                    .reshape(-1, n_ch)[:, 0]
                )
                n = x0.shape[0]
                for f in range(0, max(0, (n - FRAME) // HOP + 1)):
                    seg = x0[f * HOP : f * HOP + FRAME]
                    energy = int((seg * seg).sum())
                    zcr = int(((seg[:-1] >= 0) != (seg[1:] >= 0)).sum())
                    out.append((row["file"], f, energy, zcr))
            yield pd.DataFrame(
                out, columns=["file", "frame", "energy", "zcr"]
            )

    return files.mapInPandas(
        kernel, schema="file string, frame int, energy bigint, zcr bigint"
    )


def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio FEATURE path: the same deterministic WAVs enter
    through binaryFile, the kernel decodes and frames channel 0, and
    every per-frame energy / zero-crossing count is recomputed by the
    oracle from the closed-form signal."""
    with scratch_dir() as out:
        for clip in range(WAV_N_CLIPS):
            with open(os.path.join(out, f"clip-{clip}.wav"), "wb") as fh:
                fh.write(make_wav(clip))
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.wav")
            .load(out)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
                "content",
            )
        )
        rows = (
            decode_wav_frame_features(files).orderBy("file", "frame").collect()
        )
    return spark.createDataFrame(
        rows, "file string, frame int, energy bigint, zcr bigint"
    )


_ORACLE_AUDIO_FRAMES = f"""
WITH clips AS (
    SELECT c AS clip, 800 + c * 50 AS n_samples
    FROM (SELECT unnest(generate_series(0, {WAV_N_CLIPS - 1})) AS c)
),
samples AS (
    SELECT clip, i,
           ((i * (7 + clip) + clip * 101) % 65536) - 32768 AS s
    FROM (
        SELECT clip, unnest(generate_series(0, n_samples - 1)) AS i
        FROM clips
    )
),
nexts AS (
    SELECT clip, i, s,
           LEAD(s) OVER (PARTITION BY clip ORDER BY i) AS s1
    FROM samples
),
frames AS (
    SELECT clip, f, f * {AUDIO_HOP} AS st
    FROM (
        SELECT clip,
               unnest(generate_series(
                   0, (n_samples - {AUDIO_FRAME}) // {AUDIO_HOP}
               )) AS f
        FROM clips WHERE n_samples >= {AUDIO_FRAME}
    )
)
SELECT 'clip-' || fr.clip || '.wav' AS file,
       CAST(fr.f AS INT) AS frame,
       CAST(SUM(n.s * n.s) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN n.i < fr.st + {AUDIO_FRAME - 1}
                      AND ((n.s >= 0) <> (n.s1 >= 0))
                THEN 1 ELSE 0 END) AS BIGINT) AS zcr
FROM frames fr
JOIN nexts n ON n.clip = fr.clip
            AND n.i BETWEEN fr.st AND fr.st + {AUDIO_FRAME - 1}
GROUP BY fr.clip, fr.f, fr.st
ORDER BY file, frame
"""


VAD_THRESHOLD = 150_000_000_000  # frame-energy gate (exact integer)


def q_multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over the framed energies: frames
    whose exact integer energy clears the gate are merged into maximal
    consecutive runs (the classic gaps-and-islands frame-minus-rank
    trick, one window + one groupBy), emitting per-segment bounds,
    length, and energy mass — the silence-trim pass an audio pipeline
    runs before transcription. Composition: binaryFile → numpy decode →
    framing → relational islands, every number exact."""
    from pyspark.sql import Window

    with scratch_dir() as out:
        for clip in range(WAV_N_CLIPS):
            with open(os.path.join(out, f"clip-{clip}.wav"), "wb") as fh:
                fh.write(make_wav(clip))
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.wav")
            .load(out)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
                "content",
            )
        )
        frames = decode_wav_frame_features(files)
        active = frames.where(F.col("energy") >= VAD_THRESHOLD)
        w = Window.partitionBy("file").orderBy("frame")
        segs = (
            active.withColumn(
                "grp", F.col("frame") - F.row_number().over(w)
            )
            .groupBy("file", "grp")
            .agg(
                F.min("frame").alias("start_frame"),
                F.max("frame").alias("end_frame"),
                F.count(F.lit(1)).alias("n_frames"),
                F.sum("energy").alias("energy_sum"),
            )
            .select(
                "file", "start_frame", "end_frame", "n_frames", "energy_sum"
            )
            .orderBy("file", "start_frame")
        )
        rows = segs.collect()
    return spark.createDataFrame(
        rows,
        "file string, start_frame int, end_frame int, n_frames bigint,"
        " energy_sum bigint",
    )


_ORACLE_AUDIO_VAD = f"""
WITH fr AS ({{frames}}),
active AS (
    SELECT file, frame, energy,
           frame - ROW_NUMBER() OVER (
               PARTITION BY file ORDER BY frame
           ) AS grp
    FROM fr WHERE energy >= {VAD_THRESHOLD}
)
SELECT file,
       CAST(MIN(frame) AS INT) AS start_frame,
       CAST(MAX(frame) AS INT) AS end_frame,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(energy) AS BIGINT) AS energy_sum
FROM active
GROUP BY file, grp
ORDER BY file, start_frame
""".replace("{frames}", _ORACLE_AUDIO_FRAMES.strip())


def decode_bmp_tile_features(files: DataFrame) -> DataFrame:
    """Tiled image intensity over the decoded pixels: per
    (file, tile_x, tile_y) exact integer per-channel sums + pixel count
    — the patch-grid statistic behind thumbnail hashing and patch
    filtering. Edge tiles are partial (true dims, no padding)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        import numpy as np

        TILE = 8

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                buf = bytes(row["content"])
                off = _struct.unpack_from("<I", buf, 10)[0]
                w, h = _struct.unpack_from("<ii", buf, 18)
                stride = (3 * w + 3) & ~3
                px = (
                    np.frombuffer(buf, np.uint8, stride * h, off)
                    .reshape(h, stride)[:, : 3 * w]
                    .reshape(h, w, 3)[::-1]
                    .astype(np.int64)
                )
                for ty in range((h + TILE - 1) // TILE):
                    for tx in range((w + TILE - 1) // TILE):
                        t = px[
                            ty * TILE : (ty + 1) * TILE,
                            tx * TILE : (tx + 1) * TILE,
                        ]
                        out.append(
                            (
                                row["file"], tx, ty,
                                int(t[:, :, 2].sum()),
                                int(t[:, :, 1].sum()),
                                int(t[:, :, 0].sum()),
                                int(t.shape[0] * t.shape[1]),
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "tile_x", "tile_y",
                    "r_sum", "g_sum", "b_sum", "n_px",
                ],
            )

    return files.mapInPandas(
        kernel,
        schema=(
            "file string, tile_x int, tile_y int,"
            " r_sum bigint, g_sum bigint, b_sum bigint, n_px bigint"
        ),
    )


def q_multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image FEATURE path: the deterministic BMPs enter
    through binaryFile, the kernel decodes and tiles the pixel grid,
    and every per-tile channel sum (edge tiles partial) is recomputed
    by the oracle from the closed-form pixels."""
    with scratch_dir() as out:
        for img in range(BMP_N_IMAGES):
            with open(os.path.join(out, f"img-{img}.bmp"), "wb") as fh:
                fh.write(make_bmp(img))
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bmp")
            .load(out)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
                "content",
            )
        )
        rows = (
            decode_bmp_tile_features(files)
            .orderBy("file", "tile_y", "tile_x")
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "file string, tile_x int, tile_y int,"
        " r_sum bigint, g_sum bigint, b_sum bigint, n_px bigint",
    )


_ORACLE_IMAGE_TILES = f"""
WITH imgs AS (
    SELECT i AS img, 16 + i AS w, 9 + (i % 3) * 2 AS h
    FROM (SELECT unnest(generate_series(0, {BMP_N_IMAGES - 1})) AS i)
),
px AS (
    SELECT img, idx % w AS x, idx // w AS y
    FROM (
        SELECT img, w, h, unnest(generate_series(0, w * h - 1)) AS idx
        FROM imgs
    )
)
SELECT 'img-' || img || '.bmp' AS file,
       CAST(x // {IMG_TILE} AS INT) AS tile_x,
       CAST(y // {IMG_TILE} AS INT) AS tile_y,
       CAST(SUM((3 * x + 5 * y + 29 * img) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((5 * x + y + 17 * img) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((7 * x + 3 * y + 11 * img) % 256) AS BIGINT) AS b_sum,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM px
GROUP BY img, x // {IMG_TILE}, y // {IMG_TILE}
ORDER BY file, tile_y, tile_x
"""


QUERIES = {
    "multimodal_bmp_decode": q_multimodal_bmp_decode,
    "multimodal_wav_decode": q_multimodal_wav_decode,
    "multimodal_packing": q_multimodal_packing,
    "multimodal_frame_dedup": q_multimodal_frame_dedup,
    "multimodal_metadata": q_multimodal_metadata,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_features": q_multimodal_features,
    "multimodal_audio_frames": q_multimodal_audio_frames,
    "multimodal_image_tiles": q_multimodal_image_tiles,
    "multimodal_audio_vad": q_multimodal_audio_vad,
}

ORACLES = {
    "multimodal_bmp_decode": _ORACLE_BMP_DECODE,
    "multimodal_wav_decode": _ORACLE_WAV_DECODE,
    "multimodal_audio_frames": _ORACLE_AUDIO_FRAMES,
    "multimodal_image_tiles": _ORACLE_IMAGE_TILES,
    "multimodal_audio_vad": _ORACLE_AUDIO_VAD,
    "multimodal_packing": _ORACLE_MEDIA_PACKING,
    "multimodal_frame_dedup": _ORACLE_FRAME_DEDUP,
    "multimodal_metadata": _ORACLE_METADATA,
    "multimodal_frames": _ORACLE_FRAMES,
    "multimodal_resize": _ORACLE_RESIZE,
    "multimodal_features": _ORACLE_FEATURES,
}
