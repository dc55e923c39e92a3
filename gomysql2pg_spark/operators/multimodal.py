"""Multimodal-column operators (SURVEY.md §2.D C5).

Pattern: media payloads are opaque `binary` columns with typed metadata
alongside; decode / feature-extraction runs as Arrow-batched Pandas UDFs
over `mapInPandas`. The design the 100 TB path needs to get right:

- payloads stay in `binary` columns (or pointer structs path/offset/len
  for blob stores) — never stringly-typed,
- decode runs `mapInPandas` so one Python worker processes a whole Arrow
  batch (vectorized I/O amortization), with `maxRecordsPerBatch` tuned
  so a batch of decoded frames fits executor memory,
- metadata extraction that needs no codec (sizes, headers, magic
  numbers) stays in JVM expressions and prunes the decode fan-out.

The fixture tables carry no real media, so `synth_media_payload`
manufactures REAL container formats — 24-bit BMP images, PCM-16 WAV
audio, binary-PPM (P6) frame streams for video — deterministically from
each document's byte length. The decoder then genuinely parses those
bytes (magic sniffing, little-endian header fields, RIFF chunk walk,
repeated P6 headers); nothing is faked. Because the generator's
geometry is a pure function of `octet_length(text)`, a DuckDB SQL
oracle can still predict every parsed field, so decode correctness is
hash-gated end-to-end: synth bytes → parse bytes → compare to the
closed-form SQL.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..functions.tokens import tokenize

SAMPLE_RATE = 8000
BITS_PER_SAMPLE = 16


def _media_writers():
    """Build the three container writers as nested functions. Nested
    (not module-level) so that when a mapInPandas worker captures them,
    cloudpickle serializes them BY VALUE — a module-level function is
    pickled by reference and unpicklable on workers whose PYTHONPATH
    lacks this package (the driver-contract runner adds the repo to
    sys.path only driver-side)."""
    sample_rate, bits = SAMPLE_RATE, BITS_PER_SAMPLE

    def bmp_bytes(width: int, height: int, fill: int) -> bytes:
        """A real 24bpp bottom-up BMP: BITMAPFILEHEADER +
        BITMAPINFOHEADER + 4-byte-aligned pixel rows. Any image viewer
        opens it."""
        rowstride = ((3 * width + 3) // 4) * 4
        image_size = rowstride * height
        file_size = 54 + image_size
        header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII",
            40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0,
        )
        return header + info + bytes([fill % 256]) * image_size

    def wav_bytes(n_samples: int, sample_word: int) -> bytes:
        """A real RIFF/WAVE file: canonical 44-byte header + mono PCM-16
        data, every sample = `sample_word` (little-endian)."""
        data = (sample_word % 65536).to_bytes(2, "little") * n_samples
        return (
            struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
            + struct.pack(
                "<4sIHHIIHH",
                b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, bits,
            )
            + struct.pack("<4sI", b"data", len(data))
            + data
        )

    def ppm_stream_bytes(
        width: int, height: int, n_frames: int, fill: int
    ) -> bytes:
        """A naive video container: `n_frames` concatenated binary-PPM
        (P6) frames. Width/height are kept 2-digit by the generator so
        the 13-byte header length is constant and SQL-predictable."""
        frame = (f"P6\n{width} {height}\n255\n").encode() + bytes(
            [fill % 256]
        ) * (3 * width * height)
        return frame * n_frames

    return bmp_bytes, wav_bytes, ppm_stream_bytes


# module-level aliases for unit tests (never shipped to workers)
_bmp_bytes, _wav_bytes, _ppm_stream_bytes = _media_writers()


def make_media_synth():
    """mapInPandas worker manufacturing the fixture's binary payloads.
    Modality and geometry are pure functions of c = utf-8 byte length of
    `text` (c%3: 0→BMP image, 1→WAV audio, 2→PPM video) so the decode
    oracle is closed-form. Nested so cloudpickle ships it BY VALUE —
    Python workers need no import path to this package."""
    bmp, wav, ppm = _media_writers()

    def synth_batch(frames: Iterator) -> Iterator:
        import pandas as pd

        def synth(doc_id: int, text: str) -> bytes:
            c = len(text.encode("utf-8"))
            m = c % 3
            if m == 0:
                return bmp(16 + c % 48, 16 + (c * 7) % 32, c)
            if m == 1:
                return wav(64 + c % 192, doc_id)
            return ppm(10 + c % 80, 10 + (c * 3) % 80, 1 + c % 4, c)

        for pdf in frames:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        synth(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return synth_batch


PAYLOAD_SCHEMA = "doc_id long, payload binary"


def _payload_only(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) — the decode input. Fixture stand-in: real
    BMP/WAV/PPM containers synthesized from the document row; in
    production this column arrives from the lakehouse as-is.

    A NULL source row is MISSING media (a failed fetch), not corrupt
    media: it is dropped here (mirrored as `WHERE text IS NOT NULL` in
    every mm_* oracle), so one absent payload in a 100 TB corpus skips
    a row instead of killing the job — the fail-loudly contract stays
    reserved for NON-NULL malformed bytes."""
    return (
        docs.select("doc_id", "text")
        .filter(F.col("text").isNotNull())
        .mapInPandas(make_media_synth(), schema=PAYLOAD_SCHEMA)
    )


# closed-form payload geometry in DuckDB SQL, c = octet_length(encode(text))
_SQL_C = "octet_length(encode(text))"
_SQL_N_BYTES = f"""CASE {_SQL_C} % 3
    WHEN 0 THEN 54 + ((3 * (16 + {_SQL_C} % 48) + 3) // 4) * 4
                     * (16 + ({_SQL_C} * 7) % 32)
    WHEN 1 THEN 44 + 2 * (64 + {_SQL_C} % 192)
    ELSE (1 + {_SQL_C} % 4)
         * (13 + 3 * (10 + {_SQL_C} % 80) * (10 + ({_SQL_C} * 3) % 80))
  END"""


def q_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side (no-codec) metadata over binary payloads: byte length,
    2-byte magic as hex, modality classified by REAL magic-number
    sniffing ('BM' → image, 'RI'FF → audio, 'P6' → video). Pure
    expressions after the payload column exists — this is the fast path
    that runs BEFORE any decode fan-out at scale (cheap filter, prunes
    the expensive UDF stage)."""
    docs = _payload_only(load_table(spark, sf_dir, "documents"))
    magic = F.hex(F.substring(F.col("payload"), 1, 2))
    return docs.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        magic.alias("header_hex"),
        F.when(magic == "424D", "image")  # 'BM'
        .when(magic == "5249", "audio")  # 'RI' (RIFF)
        .when(magic == "5036", "video")  # 'P6'
        .otherwise("unknown")
        .alias("modality"),
    )


ORACLE_MM_METADATA = f"""
SELECT doc_id,
  CAST({_SQL_N_BYTES} AS BIGINT) AS n_bytes,
  CASE {_SQL_C} % 3 WHEN 0 THEN '424D' WHEN 1 THEN '5249' ELSE '5036'
    END AS header_hex,
  CASE {_SQL_C} % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
    END AS modality
FROM documents WHERE text IS NOT NULL
"""


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("codec", StringType()),
    ]
)


def make_decoder():
    """Build the mapInPandas worker: one Arrow batch of (doc_id, payload)
    in, one batch of decoded metadata out. This is a REAL parser — magic
    sniffing, then format-specific header decoding:

    - BMP: little-endian BITMAPINFOHEADER width/height (offsets 18/22),
    - WAV: RIFF chunk walk; fmt → sample_rate/bits (reported as
      width/height), data chunk size / block align → sample count
      (reported as n_frames),
    - PPM stream: repeated 'P6\\n{{w}} {{h}}\\n255\\n' headers walked
      frame-by-frame; dims from the first header, frames counted.

    Unknown magic raises ValueError (a corrupt payload must fail loudly,
    not decode to garbage). Nested so cloudpickle ships it BY VALUE."""

    def decode_one(b: bytes):
        if len(b) >= 2 and b[:2] == b"BM":
            if len(b) < 54:
                raise ValueError("truncated BMP header")
            # validate payload against header geometry: a BMP cut off
            # after its header used to "decode" silently, violating the
            # fail-loudly contract the WAV/PPM branches honor (r13
            # review finding)
            px_off = struct.unpack_from("<I", b, 10)[0]
            w, h = struct.unpack_from("<ii", b, 18)
            bpp = struct.unpack_from("<H", b, 28)[0]
            stride = ((bpp * w + 31) // 32) * 4
            if w <= 0 or h == 0 or len(b) < px_off + stride * abs(h):
                raise ValueError("corrupt BMP: truncated pixel data")
            return len(b), w, h, 1, "bmp"
        if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            pos, rate, bits, block_align, n_samples = 12, 0, 0, 0, 0
            saw_fmt = False
            while pos + 8 <= len(b):
                cid, csize = struct.unpack_from("<4sI", b, pos)
                # a chunk whose declared size exceeds the bytes present
                # is a truncated/corrupt file — fail loudly, never
                # report header-derived sample counts as real
                if pos + 8 + csize > len(b):
                    raise ValueError("corrupt WAV: chunk overruns file")
                if cid == b"fmt ":
                    # r13 review finding: a short fmt chunk used to
                    # unpack bytes past its declared size (garbage
                    # rate/bits from the NEXT chunk)
                    if csize < 16:
                        raise ValueError("corrupt WAV: short fmt chunk")
                    _, _, rate, _, block_align, bits = struct.unpack_from(
                        "<HHIIHH", b, pos + 8
                    )
                    saw_fmt = True
                elif cid == b"data":
                    # fmt must precede data or block_align is unknown
                    # and the sample count would be silently wrong
                    if not saw_fmt:
                        raise ValueError("corrupt WAV: data before fmt")
                    n_samples = csize // max(block_align, 1)
                pos += 8 + csize + (csize & 1)
            if pos < len(b):
                raise ValueError("corrupt WAV: trailing bytes")
            if not saw_fmt:
                raise ValueError("corrupt WAV: missing fmt chunk")
            return len(b), rate, bits, n_samples, "pcm_s16le"
        if len(b) >= 2 and b[:2] == b"P6":
            pos, n_frames, w, h = 0, 0, 0, 0
            while pos < len(b):
                if b[pos : pos + 3] != b"P6\n":
                    raise ValueError("corrupt PPM stream")
                nl2 = b.index(b"\n", pos + 3)
                dims = b[pos + 3 : nl2].split()
                fw, fh = int(dims[0]), int(dims[1])
                nl3 = b.index(b"\n", nl2 + 1)  # maxval line
                if n_frames == 0:
                    w, h = fw, fh
                pos = nl3 + 1 + 3 * fw * fh
                n_frames += 1
            # the frame walk advances pos by each header's declared
            # pixel payload; landing past the end means the LAST
            # frame's pixels were truncated — same fail-loudly
            # contract as the WAV chunk-overrun check above
            if pos != len(b):
                raise ValueError("corrupt PPM: truncated frame pixels")
            return len(b), w, h, n_frames, "ppm"
        raise ValueError(f"unknown media magic: {b[:4]!r}")

    def decode_batch(frames: Iterator) -> Iterator:
        import pandas as pd

        for pdf in frames:
            decoded = [decode_one(bytes(b)) for b in pdf["payload"]]
            out = pd.DataFrame(
                decoded, columns=["n_bytes", "width", "height", "n_frames", "codec"]
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["n_bytes"] = out["n_bytes"].astype("int64")
            for col in ("width", "height", "n_frames"):
                out[col] = out[col].astype("int32")
            yield out

    return decode_batch


def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched REAL decode over mapInPandas: synthesize genuine
    BMP/WAV/PPM containers, then parse their bytes back (struct header
    fields, RIFF chunk walk, P6 frame walk). The oracle predicts every
    parsed field from the generator's closed form — so a header-math
    bug on EITHER side is a hash mismatch."""
    docs = _payload_only(load_table(spark, sf_dir, "documents"))
    return docs.mapInPandas(make_decoder(), schema=DECODE_SCHEMA)


ORACLE_MM_DECODE = f"""
SELECT doc_id,
  CAST({_SQL_N_BYTES} AS BIGINT) AS n_bytes,
  CAST(CASE {_SQL_C} % 3 WHEN 0 THEN 16 + {_SQL_C} % 48
       WHEN 1 THEN {SAMPLE_RATE} ELSE 10 + {_SQL_C} % 80 END AS INT) AS width,
  CAST(CASE {_SQL_C} % 3 WHEN 0 THEN 16 + ({_SQL_C} * 7) % 32
       WHEN 1 THEN {BITS_PER_SAMPLE}
       ELSE 10 + ({_SQL_C} * 3) % 80 END AS INT) AS height,
  CAST(CASE {_SQL_C} % 3 WHEN 0 THEN 1 WHEN 1 THEN 64 + {_SQL_C} % 192
       ELSE 1 + {_SQL_C} % 4 END AS INT) AS n_frames,
  CASE {_SQL_C} % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'pcm_s16le' ELSE 'ppm'
    END AS codec
FROM documents WHERE text IS NOT NULL
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the REAL decoded video streams: keep the
    video payloads (codec='ppm'), explode every 2nd frame index, and
    compute each sampled frame's true BYTE OFFSET into the container
    (frame i starts at i × (13-byte header + 3·w·h pixels)) — the
    pointers-not-pixels pattern that keeps 100 TB of video shuffle-free:
    this stage ships (doc_id, frame_idx, frame_off) and the NEXT stage's
    mapInPandas seeks locally, never moving pixel data through a
    shuffle. r9: offsets are derived from the parsed dimensions (was: a
    synthetic 1024-stride over the fake decode)."""
    decoded = q_mm_decode(spark, sf_dir)
    videos = decoded.filter(F.col("codec") == "ppm")
    frame_bytes = 13 + 3 * F.col("width").cast("long") * F.col("height")
    return videos.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2))
        ).alias("frame_idx"),
        frame_bytes.alias("_fb"),
    ).select(
        "doc_id",
        "frame_idx",
        (F.col("frame_idx") * F.col("_fb")).alias("frame_off"),
    )


ORACLE_MM_FRAME_SAMPLE = f"""
WITH p AS (
  SELECT doc_id, {_SQL_C} AS c FROM documents
  WHERE text IS NOT NULL AND {_SQL_C} % 3 = 2
)
SELECT doc_id,
       unnest(range(0, 1 + c % 4, 2)) AS frame_idx,
       unnest(range(0, 1 + c % 4, 2))
         * (13 + 3 * (10 + c % 80) * (10 + (c * 3) % 80)) AS frame_off
FROM p
"""


RESIZE_BOX = 224  # target box (the ViT-style square crop baseline)

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
    ]
)


def make_resizer(box: int = RESIZE_BOX):
    """mapInPandas worker for the resize stage: aspect-preserving fit
    into a `box`×`box` target (integer floor math — deterministic). The
    pixel work is the seam where a resampling kernel plugs in; the batch
    shape (decode-metadata in, per-item output dims out) is exactly the
    production stage."""

    def resize_batch(frames: Iterator) -> Iterator:
        import pandas as pd

        for pdf in frames:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            # scale = box / max(w, h), applied in integer arithmetic
            m = w.where(w >= h, h)
            out_w = (w * box // m).astype("int32")
            out_h = (h * box // m).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "out_w": out_w,
                    "out_h": out_h,
                }
            )

    return resize_batch


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode → filter images → resize pipeline: real-parsed BMP dims
    flow into an aspect-preserving resize plan. Two chained mapInPandas
    stages with no shuffle between them (narrow dependency — at 100 TB
    the decoded buffers never leave the worker); the image filter runs
    between them so audio/video rows never enter the resize stage."""
    decoded = q_mm_decode(spark, sf_dir)
    images = decoded.filter(F.col("codec") == "bmp").select(
        "doc_id", "width", "height"
    )
    return images.mapInPandas(make_resizer(), schema=RESIZE_SCHEMA)


ORACLE_MM_RESIZE = f"""
WITH d AS (
  SELECT doc_id,
    CAST(16 + {_SQL_C} % 48 AS BIGINT) AS width,
    CAST(16 + ({_SQL_C} * 7) % 32 AS BIGINT) AS height
  FROM documents
  WHERE text IS NOT NULL AND {_SQL_C} % 3 = 0
)
SELECT doc_id,
  CAST(width AS INT) AS width,
  CAST(height AS INT) AS height,
  CAST(width * {RESIZE_BOX} // GREATEST(width, height) AS INT) AS out_w,
  CAST(height * {RESIZE_BOX} // GREATEST(width, height) AS INT) AS out_h
FROM d
"""


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stage: per-document scalar features (utf-8
    byte length, token count, exact mean codepoint) — the
    embedding-model stand-in. Computed with JVM expressions (the honest
    fast path when features don't need a codec); mean = integer
    codepoint sum / count, one double division — bit-identical
    cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    cp_sum = F.aggregate(
        chars, F.lit(0).cast("long"), lambda acc, c: acc + F.ascii(c)
    )
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
        F.size(tokenize(F.col("text"))).alias("n_tokens"),
        # try_divide: an EMPTY text (0 chars) must yield NULL, not an
        # ANSI divide-by-zero job failure — DuckDB's NULL/0 is NULL on
        # the oracle side (r12 hostile-text audit)
        F.try_divide(cp_sum.cast("double"), n_chars).alias(
            "mean_codepoint"
        ),
    )


ORACLE_MM_FEATURES = r"""
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
  CAST(list_sum(list_transform(string_split(text, ''),
                               c -> CAST(unicode(c) AS BIGINT))) AS DOUBLE)
    / LENGTH(text) AS mean_codepoint
FROM documents
"""


QUERIES = {
    "mm_metadata": q_mm_metadata,
    "mm_decode": q_mm_decode,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_resize": q_mm_resize,
    "mm_features": q_mm_features,
}

ORACLES = {
    "mm_metadata": ORACLE_MM_METADATA,
    "mm_decode": ORACLE_MM_DECODE,
    "mm_frame_sample": ORACLE_MM_FRAME_SAMPLE,
    "mm_resize": ORACLE_MM_RESIZE,
    "mm_features": ORACLE_MM_FEATURES,
}
