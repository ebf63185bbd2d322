"""Multimodal (binary) column operators [NORTH-STAR].

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct riding alongside — the lakehouse multimodal layout. The
Spark-side plumbing here is real and oracle-tested: schema, Arrow batch
shape, ``mapInPandas`` iterator contract, fan-out cardinality. Only the
codec itself is faked (this container has no image/audio libs): the
"decode" is a deterministic byte-level transform, and the true decoders
are stubbed behind ``NotImplementedError`` (`decode_image`,
`extract_audio_features`) so swapping in PIL/torchaudio is a one-function
change that touches no plan.

Scale design (100 TB of media):
- blobs never pass through a shuffle: every operator here is map-side
  (``mapInPandas``), so 100 TB streams partition-parallel with zero
  exchange; only the small *feature* outputs ever shuffle downstream;
- Arrow transfers blobs zero-copy per batch; keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` sized so a batch of
  blobs fits the executor Python heap (e.g. 64 × 16 MB images);
- at rest, media tables are partitioned by ``media_type`` (and date) so
  codec-specific jobs prune at the scan.

The fixture has no binary table, so ``media_table`` derives one from
``documents`` (UTF-8 payload bytes + typed metadata) — deterministic and
reproducible inside the DuckDB oracle via ``encode()``.

Reference analog: the reference treats every HBase cell value as an opaque
byte[] and never decodes beyond UTF-8 strings
(observer6/HbaseDataSyncEsObserver.java:98-99); these operators are the
typed-decode path it lacks.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..registry import register
from ..session import ensure_session_conf

FRAME_BYTES = 64  # fake "frame" stride inside a payload
FRAME_STRIDE = 4  # keep every 4th frame (frame-sampling a "video")

_MEDIA_TYPES = {"web": "image", "books": "audio", "wiki": "video", "code": "image"}


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → a multimodal table: (doc_id, media_type, meta, payload).

    payload: opaque binary column (UTF-8 bytes of the text stand in for
    encoded media). meta: typed struct(byte_len, source) — the metadata
    that rides next to every blob so planning-time filters (media_type,
    size caps) prune without touching payload bytes.
    """
    # spread blobs so the decode UDFs get all cores (and at scale, so a
    # few huge files don't serialize decode) — see catalog.spread
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    mt = F.element_at(
        F.create_map(*[F.lit(x) for kv in _MEDIA_TYPES.items() for x in kv]),
        F.col("source"),
    )
    return d.select(
        "doc_id",
        F.coalesce(mt, F.lit("image")).alias("media_type"),
        F.struct(
            F.length(F.col("text")).cast("long").alias("byte_len"),
            F.col("source").alias("source"),
        ).alias("meta"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


# SQL twin of media_table for the oracles (fixture text is ASCII, so
# char positions == byte positions and md5(substr(text)) == md5(frame bytes)).
_SQL_MEDIA = """
media AS (
  SELECT doc_id,
         CASE source WHEN 'web' THEN 'image' WHEN 'books' THEN 'audio'
                     WHEN 'wiki' THEN 'video' WHEN 'code' THEN 'image'
                     ELSE 'image' END AS media_type,
         CAST(length(text) AS BIGINT) AS byte_len,
         text
  FROM documents
)
"""


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: fake-decode each payload into fixed features.

    Real pipelines put PIL/ffmpeg here; the surrounding iterator/batch
    contract (many small pandas frames in, frames out, columnar Arrow
    transfer) is exactly what a real decoder uses.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "byte_len": payloads.map(len).astype("int64"),
                "n_frames": payloads.map(
                    lambda b: (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
                ).astype("int64"),
                "header_byte": payloads.map(lambda b: b[0]).astype("int64"),
                "checksum": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )


@register(
    "multimodal_decode_features",
    oracle=f"""
WITH {_SQL_MEDIA}
SELECT doc_id,
       media_type,
       byte_len,
       CAST((byte_len + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS BIGINT) AS n_frames,
       CAST(ord(substr(text, 1, 1)) AS BIGINT) AS header_byte,
       md5(text) AS checksum
FROM media
""",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over a binary media column via mapInPandas.

    Map-side only: blobs stream through Arrow batches and never shuffle;
    the tiny feature rows are what downstream joins/aggs touch.
    """
    ensure_session_conf(spark)
    m = media_table(spark, sf_dir)
    return m.mapInPandas(
        _decode_batches,
        schema=(
            "doc_id bigint, media_type string, byte_len bigint, "
            "n_frames bigint, header_byte bigint, checksum string"
        ),
    )


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas fan-out kernel: payload → every-STRIDE-th fixed frame.

    Output cardinality differs from input (1 row → n_frames/stride rows) —
    the frame-sampling shape for video; per-frame md5 stands in for the
    per-frame feature vector.
    """
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "frame_idx": [],
            "frame_len": [],
            "frame_md5": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
            for i in range(0, n, FRAME_STRIDE):
                frame = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_len"].append(len(frame))
                out["frame_md5"].append(hashlib.md5(frame).hexdigest())
        yield pd.DataFrame(out)


@register(
    "multimodal_frame_sample",
    oracle=f"""
WITH {_SQL_MEDIA},
idx AS (
  SELECT doc_id, text, byte_len,
         unnest(generate_series(
             0,
             CAST((byte_len + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS BIGINT) - 1,
             {FRAME_STRIDE})) AS frame_idx
  FROM media
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(least(byte_len - frame_idx * {FRAME_BYTES}, {FRAME_BYTES}) AS BIGINT)
           AS frame_len,
       md5(substr(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}))
           AS frame_md5
FROM idx
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample a binary "video" column: every 4th 64-byte frame.

    mapInPandas with fan-out (schema change + cardinality change) — the
    video-keyframe-extraction shape. Map-side; at 100 TB the only shuffle
    is whatever the downstream consumer does with the small frame table.
    """
    ensure_session_conf(spark)
    m = media_table(spark, sf_dir)
    return m.mapInPandas(
        _frame_sample_batches,
        schema="doc_id bigint, frame_idx bigint, frame_len bigint, frame_md5 string",
    )


RESIZE_TARGET = 32  # fake "resize": stride-subsample payload to ≤32 bytes


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: byte-stride subsample standing in for image
    resize (the real kernel swaps in PIL thumbnail/interpolation; the
    batch contract — blob in, smaller blob out, 1:1 rows — is identical)."""
    for pdf in batches:
        def resize(b: bytes) -> bytes:
            stride = max(1, -(-len(b) // RESIZE_TARGET))  # ceil div
            return b[::stride]

        resized = pdf["payload"].map(resize)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "orig_len": pdf["payload"].map(len).astype("int64"),
                "resized_len": resized.map(len).astype("int64"),
                "resized_md5": resized.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )


@register(
    "multimodal_resize",
    oracle=f"""
WITH {_SQL_MEDIA},
strided AS (
  SELECT doc_id, media_type, byte_len, text,
         greatest(1, CAST(ceil(byte_len * 1.0 / {RESIZE_TARGET}) AS BIGINT))
             AS stride
  FROM media
),
picked AS (
  SELECT doc_id, media_type, byte_len, stride,
         string_agg(substr(text, CAST(i AS BIGINT), 1), '' ORDER BY i) AS rz
  FROM strided, unnest(generate_series(1, CAST(byte_len AS BIGINT), stride)) AS u(i)
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id, media_type,
       byte_len AS orig_len,
       CAST(length(rz) AS BIGINT) AS resized_len,
       md5(rz) AS resized_md5
FROM picked
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize a binary media column: stride-subsample each blob to ≤32
    bytes via mapInPandas (1:1 rows, smaller payloads).

    Map-side only, like the other media kernels — at 100 TB resize is the
    classic pre-shuffle size reducer: run it BEFORE any repartition so the
    wire carries thumbnails, never originals.
    """
    ensure_session_conf(spark)
    m = media_table(spark, sf_dir)
    return m.mapInPandas(
        _resize_batches,
        schema=(
            "doc_id bigint, media_type string, orig_len bigint, "
            "resized_len bigint, resized_md5 string"
        ),
    )


# --------------------------------------------------------------------------
# True-codec stubs: the one-function swap points for real decoders.
# --------------------------------------------------------------------------

def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload to (height, width, channels, pixel_bytes).

    REAL for uncompressed 24-bit BMP: the
    container format needs no codec — BITMAPFILEHEADER + BITMAPINFOHEADER
    are fixed little-endian structs, and the pixel array is raw BGR rows.
    Parsed with stdlib ``struct`` only; every header field is validated
    so a malformed blob fails loudly, not with garbage stats.

    Compressed formats (PNG/JPEG/...) still gate on a codec library —
    production drop-in::

        from PIL import Image
        a = np.asarray(Image.open(io.BytesIO(payload)))
        return a.shape[0], a.shape[1], a.shape[2], a.tobytes()
    """
    if payload[:2] == b"BM":
        if len(payload) < 54:  # BITMAPFILEHEADER(14) + BITMAPINFOHEADER(40)
            raise ValueError("truncated BMP headers (need >= 54 bytes)")
        # BITMAPFILEHEADER (14 bytes): magic, file size, reserved, offset
        _size, _res, offset = struct.unpack_from("<III", payload, 2)
        # BITMAPINFOHEADER (40 bytes)
        (hdr_sz, width, height, planes, bpp, compression) = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
        if hdr_sz != 40 or planes != 1 or bpp != 24 or compression != 0:
            raise ValueError("unsupported BMP variant (need 24bpp BI_RGB)")
        row_bytes = (width * 3 + 3) // 4 * 4  # rows pad to 4-byte multiples
        px = payload[offset : offset + row_bytes * abs(height)]
        if len(px) != row_bytes * abs(height):
            raise ValueError("truncated BMP pixel array")
        return abs(height), width, 3, bytes(px)
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "non-BMP image decode requires a codec library (e.g. Pillow); "
            "this container ships none — see docstring for the drop-in"
        ) from exc
    raise NotImplementedError("wire PIL decode here when the codec is present")


def extract_audio_features(payload: bytes) -> dict:
    """Decode an audio payload to exact-integer features.

    REAL for RIFF/WAVE PCM16: the WAV
    container is stdlib-parseable — RIFF header, ``fmt `` chunk
    (format/channels/rate/bits), ``data`` chunk of little-endian int16
    samples. Returns {sample_rate, n_samples, sum_vals, sum_sq, peak} —
    all exact integers, so the features are engine-comparable with no
    error band. Compressed audio (mp3/flac/...) still gates on a codec
    (torchaudio/librosa production drop-in)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(payload):
            cid, csz = payload[pos : pos + 4], struct.unpack_from(
                "<I", payload, pos + 4
            )[0]
            if cid == b"fmt ":
                if pos + 8 + 16 > len(payload):
                    raise ValueError("truncated WAV fmt chunk")
                fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
            elif cid == b"data":
                if pos + 8 + csz > len(payload):
                    raise ValueError("truncated WAV data chunk")
                data = payload[pos + 8 : pos + 8 + csz]
            pos += 8 + csz + (csz & 1)
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt/data chunk")
        audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
        if audio_fmt != 1 or bits != 16 or channels != 1:
            raise ValueError("unsupported WAV variant (need PCM16 mono)")
        n = len(data) // 2
        samples = struct.unpack(f"<{n}h", data[: 2 * n])
        return {
            "sample_rate": rate,
            "n_samples": n,
            "sum_vals": sum(samples),
            "sum_sq": sum(s * s for s in samples),
            "peak": max((abs(s) for s in samples), default=0),
        }
    raise NotImplementedError(
        "compressed-audio decode requires a codec library "
        "(torchaudio/librosa); this container ships none"
    )


# --- REAL container decode (BMP pixels / WAV samples) ------------------------

REAL_IMG_W, REAL_IMG_H = 8, 8  # 8x8 24bpp -> 192 pixel bytes, rows unpadded
REAL_WAV_RATE = 8_000
REAL_WAV_SAMPLES = 64


def _make_bmp(src: bytes) -> bytes:
    """Deterministic 8x8 24-bit BMP whose pixel bytes tile ``src`` — the
    fixture 'camera'. Row stride 8*3 = 24 bytes is already 4-aligned."""
    n_px = REAL_IMG_W * REAL_IMG_H * 3
    px = bytes(src[j % len(src)] for j in range(n_px))
    header = b"BM" + struct.pack("<III", 54 + n_px, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, REAL_IMG_W, REAL_IMG_H, 1, 24, 0, n_px, 0, 0, 0, 0
    )
    return header + dib + px


def _make_wav(src: bytes) -> bytes:
    """Deterministic PCM16 mono WAV: sample j = (src[j mod len] - 128)*256."""
    n = REAL_WAV_SAMPLES
    samples = [(src[j % len(src)] - 128) * 256 for j in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, 1, REAL_WAV_RATE, REAL_WAV_RATE * 2, 2, 16
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def _real_decode_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: build a REAL container per doc (BMP for
    image/video, WAV for audio), then run the REAL stdlib parser over it
    (decode_image / extract_audio_features) and emit exact-integer
    pixel/sample statistics. Encode and decode happen map-side in one
    pass — blobs never shuffle; only the feature rows leave the task."""
    for pdf in batches:
        rows: dict[str, list] = {
            "doc_id": [],
            "media_type": [],
            "container": [],
            "width": [],
            "height": [],
            "sample_rate": [],
            "n_units": [],
            "sum_vals": [],
            "sum_sq": [],
        }
        for doc_id, mt, payload in zip(
            pdf["doc_id"], pdf["media_type"], pdf["payload"]
        ):
            src = bytes(payload)
            if mt == "audio":
                feats = extract_audio_features(_make_wav(src))
                rows["container"].append("wav")
                rows["width"].append(None)
                rows["height"].append(None)
                rows["sample_rate"].append(feats["sample_rate"])
                rows["n_units"].append(feats["n_samples"])
                rows["sum_vals"].append(feats["sum_vals"])
                rows["sum_sq"].append(feats["sum_sq"])
            else:  # image + video frames share the BMP path
                h, w, c, px = decode_image(_make_bmp(src))
                rows["container"].append("bmp")
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sample_rate"].append(None)
                rows["n_units"].append(h * w * c)
                rows["sum_vals"].append(sum(px))
                rows["sum_sq"].append(sum(b * b for b in px))
            rows["doc_id"].append(doc_id)
            rows["media_type"].append(mt)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "media_type": rows["media_type"],
                "container": rows["container"],
                "width": pd.Series(rows["width"], dtype="Int64"),
                "height": pd.Series(rows["height"], dtype="Int64"),
                "sample_rate": pd.Series(rows["sample_rate"], dtype="Int64"),
                "n_units": pd.Series(rows["n_units"], dtype="int64"),
                "sum_vals": pd.Series(rows["sum_vals"], dtype="int64"),
                "sum_sq": pd.Series(rows["sum_sq"], dtype="int64"),
            }
        )


@register(
    "multimodal_decode_real",
    oracle=f"""
WITH {_SQL_MEDIA.strip()},
med AS (
  -- fixture sources (src0..src19) all fall through media_table's
  -- source map to 'image'; an md5 split assigns ~half the docs to the
  -- WAV path so BOTH container parsers run on every fixture.
  SELECT doc_id,
         CASE WHEN substr(md5('med:' || CAST(doc_id AS VARCHAR)), 1, 1)
                   < '8'
              THEN 'audio' ELSE 'image' END AS media_type,
         byte_len, text
  FROM media
),
units AS (
  SELECT doc_id, media_type, byte_len,
         CASE WHEN media_type = 'audio'
              THEN (ord(substr(text,
                          CAST((u.j % byte_len) + 1 AS BIGINT), 1)) - 128)
                   * 256
              ELSE ord(substr(text,
                          CAST((u.j % byte_len) + 1 AS BIGINT), 1))
         END AS v
  FROM med,
       unnest(generate_series(0,
         CASE WHEN media_type = 'audio' THEN {REAL_WAV_SAMPLES - 1}
              ELSE {REAL_IMG_W * REAL_IMG_H * 3 - 1} END)) AS u(j)
)
SELECT doc_id, media_type,
       CASE WHEN media_type = 'audio' THEN 'wav' ELSE 'bmp' END AS container,
       CAST(CASE WHEN media_type = 'audio' THEN NULL
                 ELSE {REAL_IMG_W} END AS BIGINT) AS width,
       CAST(CASE WHEN media_type = 'audio' THEN NULL
                 ELSE {REAL_IMG_H} END AS BIGINT) AS height,
       CAST(CASE WHEN media_type = 'audio'
                 THEN {REAL_WAV_RATE} END AS BIGINT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_units,
       CAST(SUM(v) AS BIGINT) AS sum_vals,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM units
GROUP BY doc_id, media_type
""",
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container decode over the media column: each
    doc's payload bytes become an actual on-disk format — an 8x8 24-bit
    BMP for image/video docs, a PCM16 mono WAV for audio docs — and the
    statistics come from PARSING those containers with the stdlib
    ``struct`` decoders (`decode_image` / `extract_audio_features`):
    width/height/sample_rate are read out of the binary headers, and
    sum/sum-of-squares come from the decoded pixel/sample arrays, not
    from the source text. The oracle recomputes the same stats from the
    generative mapping (pixel j = text byte j mod len; sample j =
    (byte-128)*256), so a parser that misreads stride, padding, chunk
    layout, or endianness hash-mismatches immediately. PIL/torchaudio
    swap points remain for compressed formats (the codec gate in both
    decoders).

    Scale shape: identical to multimodal_decode_features — encode +
    decode are one map-side mapInPandas pass, blobs never shuffle, only
    the 9-column feature rows reach the (absent) downstream exchange.
    """
    ensure_session_conf(spark)
    # The fixture's src0..src19 sources all fall through media_table's
    # source map to 'image'; an md5 modality split sends ~half the docs
    # down the WAV path so the registered row exercises BOTH parsers.
    m = media_table(spark, sf_dir).withColumn(
        "media_type",
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("med:"), F.col("doc_id").cast("string"))),
                1,
                1,
            )
            < "8",
            "audio",
        ).otherwise("image"),
    )
    return m.mapInPandas(
        _real_decode_batches,
        schema=(
            "doc_id bigint, media_type string, container string, "
            "width bigint, height bigint, sample_rate bigint, "
            "n_units bigint, sum_vals bigint, sum_sq bigint"
        ),
    )


PHASH_BITS = 16


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: 16-bit block-mean perceptual hash per payload.

    Stand-in for DCT pHash (the real kernel drops into `decode_image` +
    a DCT; same batch contract): byte k of the payload lands in block
    (k·16)//n, and bit b is set iff block b's byte-sum exceeds the global
    mean pro-rated to the block size — all exact integer comparisons, so
    the hash is reproducible in any engine down to the bit.
    """
    for pdf in batches:
        out_hash = []
        for b in pdf["payload"]:
            n = len(b)
            sums = [0] * PHASH_BITS
            cnts = [0] * PHASH_BITS
            for k, byte in enumerate(b):
                blk = (k * PHASH_BITS) // n
                sums[blk] += byte
                cnts[blk] += 1
            total = sum(sums)
            h = 0
            for blk in range(PHASH_BITS):
                if sums[blk] * n > total * cnts[blk]:
                    h |= 1 << blk
            out_hash.append(h)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "phash": pd.Series(out_hash, dtype="int64"),
            }
        )


@register(
    "multimodal_phash_dedup",
    oracle=f"""
WITH {_SQL_MEDIA.strip().lstrip()},
bytes AS (
  SELECT doc_id, media_type, length(text) AS n,
         ord(substr(text, i, 1)) AS code,
         CAST(((i - 1) * {PHASH_BITS}) // length(text) AS INTEGER) AS blk
  FROM media, unnest(generate_series(1, length(text))) AS t(i)
),
blocks AS (
  SELECT doc_id, media_type, n, blk,
         SUM(code) AS s, COUNT(*) AS c
  FROM bytes GROUP BY doc_id, media_type, n, blk
),
totals AS (
  SELECT doc_id, SUM(s) AS total FROM blocks GROUP BY doc_id
),
hashes AS (
  SELECT b.doc_id, b.media_type,
         CAST(SUM(CASE WHEN b.s * b.n > t.total * b.c
                       THEN (1 << b.blk) ELSE 0 END) AS BIGINT) AS phash
  FROM blocks b JOIN totals t ON b.doc_id = t.doc_id
  GROUP BY b.doc_id, b.media_type
)
SELECT media_type, phash,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM hashes
GROUP BY media_type, phash
""",
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash dedup over the binary media column: a 16-bit
    block-mean hash per payload (mapInPandas, blobs never shuffle), then
    keep-lowest per (media_type, phash) bucket — near-duplicate image
    detection's standard first pass, here with the codec faked and every
    byte of the plumbing real.

    Scale shape: the hash is one map-side pass over the blobs (the ONLY
    pass — feature rows are 3 columns); the dedup decision shuffles
    16-bit hashes, not media. The DuckDB oracle recomputes the identical
    hash from the payload bytes via exact integer block sums.
    """
    ensure_session_conf(spark)
    m = media_table(spark, sf_dir)
    hashes = m.mapInPandas(
        _phash_batches,
        schema="doc_id bigint, media_type string, phash bigint",
    )
    return hashes.groupBy("media_type", "phash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("keep_doc_id"),
    )


def _payload_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-blob byte histogram stats — the profiling
    pass a media pipeline runs to spot corrupt/duplicate/empty payloads
    without any codec."""
    from collections import Counter

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            c = Counter(payload)
            modal_byte, modal_cnt = max(
                c.items(), key=lambda kv: (kv[1], -kv[0])
            )
            rows.append(
                (
                    doc_id,
                    len(payload),
                    len(c),
                    int(modal_byte),
                    modal_cnt / len(payload),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "byte_len",
                "n_distinct_bytes",
                "modal_byte",
                "modal_frac",
            ],
        )


@register(
    "multimodal_payload_stats",
    oracle="""
WITH chars AS (
  SELECT doc_id, unicode(substring(text, CAST(i AS INTEGER), 1)) AS b
  FROM documents, unnest(generate_series(1, length(text))) t(i)
),
counts AS (
  SELECT doc_id, b, COUNT(*) AS c FROM chars GROUP BY doc_id, b
),
modal AS (
  SELECT doc_id, b, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, b) AS rn
    FROM counts
  ) t WHERE rn = 1
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS byte_len,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes
  FROM counts GROUP BY doc_id
)
SELECT a.doc_id, a.byte_len, a.n_distinct_bytes,
       CAST(m.b AS BIGINT) AS modal_byte,
       CAST(m.c AS DOUBLE) / a.byte_len AS modal_frac
FROM agg a JOIN modal m USING (doc_id)
""",
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free payload profiling over the binary media column: byte
    length, distinct-byte count, modal byte and its frequency — the
    corrupt-blob / truncated-file / constant-padding detector that runs
    BEFORE any decode at 100 TB (a blob whose modal byte covers ~100% is
    padding; a few distinct bytes means truncation or fill).

    Spark shape: Arrow-batched mapInPandas over the blob column — blobs
    never shuffle, stats are a few ints per blob; the oracle recomputes
    the histogram character-wise (fixture payloads are ASCII text bytes,
    so byte == character code). Ties on the modal byte break to the
    SMALLEST byte value in both engines.
    """
    ensure_session_conf(spark)
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("byte_len", T.LongType()),
            T.StructField("n_distinct_bytes", T.LongType()),
            T.StructField("modal_byte", T.LongType()),
            T.StructField("modal_frac", T.DoubleType()),
        ]
    )
    return (
        media_table(spark, sf_dir)
        .select("doc_id", "payload")
        .mapInPandas(_payload_stats_batches, schema)
    )


SHARD_TARGET_BYTES = 100_000


@register(
    "multimodal_shard_pack",
    oracle=f"""
WITH sized AS (SELECT doc_id, n_chars AS nbytes FROM documents),
cum AS (
  SELECT doc_id, nbytes,
         COALESCE(SUM(nbytes) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM sized
)
SELECT CAST(cum_before // {SHARD_TARGET_BYTES} AS BIGINT) AS shard_id,
       COUNT(*) AS n_blobs,
       CAST(SUM(nbytes) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM(nbytes) AS DOUBLE) / {SHARD_TARGET_BYTES} AS fill_frac
FROM cum
GROUP BY 1
""",
)
def multimodal_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard packing plan for the media blobs:
    sequentially assign each payload (byte size = n_chars — the fixture
    payload is the UTF-8 text, media_table above) to ~100 KB shards by
    running byte offset, and report each shard's blob count, byte total,
    doc range, and fill fraction — the plan a training-data loader
    materializes so sequential reads stream whole shards instead of
    seeking per blob.

    The assignment rule is the streaming writer's: a blob belongs to
    the shard where its FIRST byte lands (cum_before div target), so
    shard contents are reproducible from sizes alone — no writer state.

    Scale shape: sizes only — blob BYTES never move for the plan. At
    this SF the running offset is one global-ordered window over the
    doc-grain size table; at 100 TB the same rule runs per
    ingest-partition (partition-local shard numbering prefixed by
    partition id), which drops the global sort while keeping every
    shard's locality contract.
    """
    ensure_session_conf(spark)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("nbytes")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    cum = d.select(
        "doc_id",
        "nbytes",
        F.coalesce(F.sum("nbytes").over(w), F.lit(0)).alias("cum_before"),
    )
    shard = F.expr(f"cum_before div {SHARD_TARGET_BYTES}")
    return cum.groupBy(shard.cast("bigint").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("nbytes").cast("bigint").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (
            F.sum("nbytes").cast("double") / SHARD_TARGET_BYTES
        ).alias("fill_frac"),
    )
