"""Multimodal columns: image/audio/video as opaque ``binary`` with typed
metadata, processed through ``mapInPandas`` (north star surface).

The container has no image/audio libraries, so the *decode* step is stubbed
(deterministic fake decoder + a clearly-marked NotImplementedError for real
codecs) — but the Spark-side plumbing is real and tested: binary columns,
Arrow batch iteration, stable output schema, partition-preserving map.

At 100 TB the pattern is: store blobs in parquet ``binary`` columns (or
``binaryFile`` source for object stores), keep metadata in sibling typed
columns so filters prune BEFORE decode, and decode only inside mapInPandas
batches (never collect). ``spark.sql.files.maxPartitionBytes`` sizes decode
tasks; per-batch memory = batch_size × avg_blob, bounded via
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import QuerySpec, register
from ..session import load_table

QUERIES: dict[str, QuerySpec] = {}

FEATURE_SCHEMA = (
    "doc_id long, byte_len long, first_byte long, checksum long, n_frames long"
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_png_header(b: bytes) -> dict | None:
    """PNG signature + IHDR → width/height/bit_depth. Pure Python, header
    bytes only — the shape of a 100 TB pre-decode probe (prune on parsed
    metadata BEFORE shipping blobs to a real codec)."""
    if len(b) < 26 or not b.startswith(_PNG_SIG) or b[12:16] != b"IHDR":
        return None
    width, height = int.from_bytes(b[16:20], "big"), int.from_bytes(b[20:24], "big")
    return {"fmt": "png", "width": width, "height": height, "bit_depth": b[24],
            "channels": None, "sample_rate": None, "n_frames": 1}


def parse_jpeg_header(b: bytes) -> dict | None:
    """JPEG marker walk to the first SOF0/1/2 frame header → dimensions.
    Markers carry a big-endian self-inclusive length; standalone markers
    (RSTn/SOI/EOI/TEM) have none."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None  # desynced — not a well-formed marker stream
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if seg_len < 2:
            return None
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0 baseline / ext. / progressive
            if i + 4 + 6 > len(b):
                return None
            precision = b[i + 4]
            height = int.from_bytes(b[i + 5 : i + 7], "big")
            width = int.from_bytes(b[i + 7 : i + 9], "big")
            channels = b[i + 9]
            return {"fmt": "jpeg", "width": width, "height": height,
                    "bit_depth": precision, "channels": channels,
                    "sample_rate": None, "n_frames": 1}
        i += 2 + seg_len
    return None


def parse_wav_header(b: bytes) -> dict | None:
    """RIFF/WAVE chunk walk: fmt → channels/rate/depth, data → frame count
    (little-endian sizes per the RIFF spec)."""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    out: dict = {"fmt": "wav", "width": None, "height": None,
                 "bit_depth": None, "channels": None, "sample_rate": None,
                 "n_frames": 0}
    i, block_align = 12, None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 8 + 16 <= len(b):
            p = i + 8
            out["channels"] = int.from_bytes(b[p + 2 : p + 4], "little")
            out["sample_rate"] = int.from_bytes(b[p + 4 : p + 8], "little")
            block_align = int.from_bytes(b[p + 12 : p + 14], "little")
            out["bit_depth"] = int.from_bytes(b[p + 14 : p + 16], "little")
        elif cid == b"data" and block_align:
            out["n_frames"] = size // block_align
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return out if out["channels"] is not None else None


def parse_gif_header(b: bytes) -> dict | None:
    """GIF87a/89a logical-screen descriptor → dimensions + palette depth
    (little-endian per the GIF spec; the packed byte's low 3 bits encode
    global-color-table size as 2^(n+1) entries → n+1 bits per pixel).
    Header bytes only — same pre-decode-probe shape as the other parsers;
    frame counting would need LZW block walking, a real codec's job."""
    if len(b) < 13 or b[0:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    packed = b[10]
    return {"fmt": "gif", "width": width, "height": height,
            "bit_depth": (packed & 0x07) + 1, "channels": None,
            "sample_rate": None, "n_frames": 1}


def parse_bmp_header(b: bytes) -> dict | None:
    """BMP file header + BITMAPINFOHEADER → dimensions/bit depth. Height is
    SIGNED (negative = top-down rows); dimensions are reported positive."""
    if len(b) < 30 or b[0:2] != b"BM":
        return None
    dib_size = int.from_bytes(b[14:18], "little")
    if dib_size < 40:  # BITMAPCOREHEADER etc. — not the common case
        return None
    width = abs(int.from_bytes(b[18:22], "little", signed=True))
    height = abs(int.from_bytes(b[22:26], "little", signed=True))
    bitcount = int.from_bytes(b[28:30], "little")
    return {"fmt": "bmp", "width": width, "height": height,
            "bit_depth": bitcount, "channels": max(1, bitcount // 8),
            "sample_rate": None, "n_frames": 1}


def probe_media_header(blob: bytes) -> dict | None:
    """Dispatch across the pure-Python header parsers; None if unrecognized."""
    for parser in (parse_png_header, parse_jpeg_header, parse_wav_header,
                   parse_gif_header, parse_bmp_header):
        got = parser(blob)
        if got is not None:
            return got
    return None


def decode_real(blob: bytes) -> dict:
    """Real-codec hook. Header-only decoding (PNG/JPEG/WAV/GIF/BMP) works with
    zero dependencies; full pixel/sample decode needs a codec library this
    container doesn't ship — that path raises so callers fall back to
    ``decode_fake`` explicitly rather than silently.

    FEATURE_SCHEMA mapping mirrors the PNG-seam test: ``first_byte`` carries
    bit depth, ``checksum`` carries pixel count (images) / total samples
    (audio), ``n_frames`` the frame count."""
    b = b"" if blob is None else bytes(blob)
    hdr = probe_media_header(b)
    if hdr is None:
        raise NotImplementedError(
            "no pure-Python header parser for this format (have: PNG, JPEG, "
            "WAV, GIF, BMP); plug a codec library here or use decode_fake"
        )
    if hdr["fmt"] == "wav":
        units = hdr["n_frames"] * (hdr["channels"] or 0)
    else:
        units = (hdr["width"] or 0) * (hdr["height"] or 0)
    return {
        "byte_len": len(b),
        "first_byte": hdr["bit_depth"] if hdr["bit_depth"] is not None else -1,
        "checksum": units,
        "n_frames": hdr["n_frames"],
    }


def decode_fake(blob: bytes) -> dict:
    """Deterministic stand-in decoder: derives 'features' from raw bytes so
    tests/oracles can verify the plumbing end to end."""
    if blob is None or len(blob) == 0:
        return {"byte_len": 0, "first_byte": -1, "checksum": 0, "n_frames": 0}
    return {
        "byte_len": len(blob),
        "first_byte": blob[0],
        "checksum": sum(blob[:64]) % 997,
        "n_frames": 1 + len(blob) // 1024,  # fake frame sampling: 1 per KiB
    }


def extract_features(blobs: DataFrame, decoder=decode_fake) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, content BINARY) — the
    real operator shape: per-partition Arrow batch iterator, typed output."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(b if b is None else bytes(b)) for b in pdf["content"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return blobs.mapInPandas(op, FEATURE_SCHEMA)


def documents_as_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stand-in blob table: document text bytes as the opaque binary column
    (the real pipeline would read image/audio bytes the same way)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("size_hint"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


@register(
    QUERIES,
    "multimodal_extract",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT)                 AS byte_len,
           -- first UTF-8 *byte* (the decoder sees bytes, not code points):
           -- derive it from the first code point's UTF-8 leading byte
           CAST(CASE
             WHEN strlen(text) = 0 THEN -1
             WHEN ascii(substr(text, 1, 1)) < 128
               THEN ascii(substr(text, 1, 1))
             WHEN ascii(substr(text, 1, 1)) < 2048
               THEN 192 + ascii(substr(text, 1, 1)) // 64
             WHEN ascii(substr(text, 1, 1)) < 65536
               THEN 224 + ascii(substr(text, 1, 1)) // 4096
             ELSE 240 + ascii(substr(text, 1, 1)) // 262144
           END AS BIGINT)                               AS first_byte,
           CAST(CASE WHEN strlen(text) = 0 THEN 0
                     ELSE 1 + strlen(text) // 1024 END AS BIGINT) AS n_frames
    FROM documents
    """,
    doc="Binary-column feature extraction through mapInPandas (Arrow batch "
    "iterator); fake decoder derives features from bytes so the full "
    "plumbing is oracle-checked (checksum column omitted from the oracle "
    "comparison; asserted in unit tests). first_byte is the first UTF-8 "
    "BYTE on both sides (the oracle derives the leading byte from the code "
    "point), and empty docs yield n_frames=0 on both sides.",
)
def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = documents_as_blobs(spark, sf_dir).select("doc_id", "content")
    return extract_features(blobs).select(
        "doc_id", "byte_len", "first_byte", "n_frames"
    )


@register(
    QUERIES,
    "multimodal_meta_prune",
    oracle="""
    SELECT lang,
           count(*)                           AS n_blobs,
           CAST(sum(strlen(text)) AS BIGINT)  AS total_bytes
    FROM documents
    WHERE n_chars > 200
    GROUP BY lang
    """,
    doc="Metadata-first pruning: filter on typed sibling columns so the scan "
    "never touches blob bytes for skipped rows (column pruning + predicate "
    "pushdown are the whole point of typed metadata next to blobs).",
)
def multimodal_meta_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = documents_as_blobs(spark, sf_dir)
    return (
        blobs.filter(F.col("meta.size_hint") > 200)
        .groupBy(F.col("meta.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum(F.length("content")).cast("long").alias("total_bytes"),
        )
    )


FRAME_SIZE = 128  # bytes per fake frame
FRAME_STRIDE = 2  # keep every 2nd frame
FRAME_SCHEMA = "doc_id long, frame_idx long, frame_md5 string"


def sample_frames(blobs: DataFrame) -> DataFrame:
    """mapInPandas frame sampler: split each blob into FRAME_SIZE-byte
    frames, keep every FRAME_STRIDE-th, emit the frame's md5 — the video
    frame-sampling shape (decode -> per-frame feature -> downsample) with a
    deterministic stand-in for the codec. Row explosion happens INSIDE the
    Arrow batch (one input row -> few output rows), so no shuffle at all."""
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["content"]):
                blob = b if b is None else bytes(b)
                if not blob:
                    continue
                n_frames = (len(blob) + FRAME_SIZE - 1) // FRAME_SIZE
                for i in range(0, n_frames, FRAME_STRIDE):
                    ids.append(doc_id)
                    idxs.append(i)
                    digests.append(
                        hashlib.md5(blob[i * FRAME_SIZE:(i + 1) * FRAME_SIZE]).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return blobs.mapInPandas(op, FRAME_SCHEMA)


@register(
    QUERIES,
    "multimodal_frame_sample",
    oracle=f"""
    WITH a AS (  -- ASCII-only docs: characters == bytes, so VARCHAR
                 -- substr/md5 mirror the byte slicing (DuckDB has no BLOB md5)
      SELECT doc_id, text FROM documents
      WHERE regexp_matches(text, '^[\\x00-\\x7F]*$') AND strlen(text) > 0
    ), f AS (
      SELECT doc_id, text,
             unnest(generate_series(
               0, CAST(floor((strlen(text) - 1) / {FRAME_SIZE}) AS BIGINT)
             )) AS frame_idx
      FROM a
    )
    SELECT doc_id, frame_idx,
           md5(substr(text, frame_idx * {FRAME_SIZE} + 1, {FRAME_SIZE})) AS frame_md5
    FROM f
    WHERE frame_idx % {FRAME_STRIDE} = 0
    """,
    doc=f"Frame sampling over binary blobs: {FRAME_SIZE}-byte frames, every "
    f"{FRAME_STRIDE}nd kept, per-frame md5 — the video-pipeline downsample "
    "shape through mapInPandas with in-batch row explosion (no shuffle).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = (
        documents_as_blobs(spark, sf_dir)
        # byte-exact oracle parity needs chars == bytes; non-ASCII blobs are
        # still sampled fine by sample_frames (unit-tested), just not
        # SQL-mirrorable
        .filter(F.col("content").cast("string").rlike("^[\\x00-\\x7F]*$"))
        .select("doc_id", "content")
    )
    return sample_frames(blobs)


RESIZE_STRIDE = 4  # keep every 4th byte — the deterministic "resize" stand-in
RESIZE_SCHEMA = "doc_id long, orig_len long, resized_len long, resized_md5 string"


def resize_blobs(blobs: DataFrame, stride: int = RESIZE_STRIDE) -> DataFrame:
    """mapInPandas blob 'resize': subsample every ``stride``-th byte (the
    deterministic stand-in for an image downscale — real codecs plug in at
    decode_real). Emits the resized length + md5 so tests/oracles verify
    content, not just shape. One Arrow pass, no shuffle, output rows ==
    input rows (unlike frame sampling there is no explosion)."""
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, orig, rlen, rmd5 = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["content"]):
                blob = b"" if b is None else bytes(b)
                resized = blob[::stride]
                ids.append(doc_id)
                orig.append(len(blob))
                rlen.append(len(resized))
                rmd5.append(hashlib.md5(resized).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "orig_len": orig,
                    "resized_len": rlen,
                    "resized_md5": rmd5,
                }
            )

    return blobs.mapInPandas(op, RESIZE_SCHEMA)


@register(
    QUERIES,
    "multimodal_resize",
    oracle=f"""
    WITH a AS (  -- ASCII docs: chars == bytes (DuckDB cannot md5 blobs)
      SELECT doc_id, text FROM documents
      WHERE regexp_matches(text, '^[\\x00-\\x7F]*$')
    )
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS orig_len,
           CAST(CASE WHEN strlen(text) = 0 THEN 0
                     ELSE (strlen(text) + {RESIZE_STRIDE} - 1) // {RESIZE_STRIDE}
                END AS BIGINT)          AS resized_len,
           md5(array_to_string(
                 list_transform(
                   generate_series(1, strlen(text), {RESIZE_STRIDE}),
                   i -> substr(text, CAST(i AS INTEGER), 1)),
                 ''))                   AS resized_md5
    FROM a
    """,
    doc=f"Blob 'resize' (every {RESIZE_STRIDE}th byte kept) through "
    "mapInPandas with content verified by md5 — the image-downscale shape "
    "with a deterministic codec stand-in; real decoders plug in at "
    "decode_real. Completes the decode/extract/resize/frame-sample quartet.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = (
        documents_as_blobs(spark, sf_dir)
        .filter(F.col("content").cast("string").rlike("^[\\x00-\\x7F]*$"))
        .select("doc_id", "content")
    )
    return resize_blobs(blobs)


# ---- Arrow-level batch processing (mapInArrow) ---------------------------


def arrow_byte_stats(blobs: DataFrame) -> DataFrame:
    """Per-blob byte statistics computed at the Arrow RecordBatch level via
    ``mapInArrow`` — no pandas materialization at all: columns stay Arrow
    buffers end-to-end, which is the right execution tier for bulk
    binary-payload work (pandas would copy every blob into Python objects).
    Complements the mapInPandas operators above: together the module
    exercises both Python batch APIs against the same blob table."""
    import pyarrow as pa

    schema = "doc_id long, n_bytes long, n_spaces long"

    def op(batches):
        import pyarrow.compute as pc

        for b in batches:
            content = b.column(b.schema.get_field_index("content"))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    pc.cast(pc.binary_length(content), pa.int64()),
                    pc.cast(
                        pc.count_substring(pc.cast(content, pa.string()), " "),
                        pa.int64(),
                    ),
                ],
                ["doc_id", "n_bytes", "n_spaces"],
            )

    return blobs.select("doc_id", "content").mapInArrow(op, schema)


@register(
    QUERIES,
    "multimodal_arrow_byte_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(len(text) - len(replace(text, ' ', '')) AS BIGINT) AS n_spaces
    FROM documents
    """,
    doc="Blob byte statistics through mapInArrow (RecordBatch in, "
    "RecordBatch out — zero pandas conversion, the bulk-binary execution "
    "tier): byte length + ASCII-space count per blob via pyarrow.compute "
    "kernels. Oracle recomputes both from the text column. Pure map-side; "
    "Arrow buffers never copy into Python objects.",
)
def multimodal_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return arrow_byte_stats(documents_as_blobs(spark, sf_dir))
