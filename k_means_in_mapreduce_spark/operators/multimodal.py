"""Multimodal column support (north-star: image/audio/video at 100 TB).

Design: media payloads are opaque ``binary`` columns with a typed metadata
struct alongside — the layout a petabyte-scale training pipeline uses
(parquet binary chunks + pushdown-able scalar metadata). Decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so payload bytes
cross the JVM<->Python boundary once per batch, never per row.

The decode step is REAL for codec-free public containers — binary PPM
images, PCM WAV audio, and YUV4MPEG2 raw video are parsed by
``_CODECS["decode"]`` with nothing beyond the standard library (PIL is an
optional fallback for compressed images), and ``multimodal_decode_real``
oracle-checks the parser end-to-end against arithmetically predicted
header fields. The deterministic ``fake_decode`` twin remains for the
original text-byte fixture queries.

The blob fixture is synthesized deterministically from ``documents``
(text bytes as payload, media type assigned by doc_id) so oracles can
check the plumbing end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import query
from ..sources import load_table

MEDIA_TYPES = ("image", "audio", "video")


def media_blob_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal fixture: (doc_id, media_type, blob,
    meta struct). blob = UTF-8 bytes of the document text."""
    d = load_table(spark, sf_dir, "documents")
    media_type = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    blob = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        media_type.alias("media_type"),
        blob.alias("blob"),
        F.struct(
            F.octet_length(blob).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def _build_fake_decode():
    """Nested so closures capture it BY VALUE (cloudpickle ships nested
    functions whole; a module-level function would pickle by reference and
    fail on executors without this package) — ONE definition instead of
    the inline duplicate multimodal_decode_meta used to carry."""

    def fake_decode(blob: bytes, media_type: str) -> dict:
        n = len(blob)
        if media_type == "image":
            return {"width": 16 + n % 1024, "height": 16 + (n * 7) % 768,
                    "n_frames": 1}
        if media_type == "audio":
            return {"width": 0, "height": 0, "n_frames": n // 4}  # "samples"
        return {"width": 320, "height": 240, "n_frames": max(1, n // 64)}

    return fake_decode


#: deterministic stand-in for the real decoder over the text-byte fixture
fake_decode = _build_fake_decode()


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                        WHEN 1 THEN 'audio'
                                        ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata projection over the binary column — stays entirely
    JVM-side (octet_length/md5 are builtin): the cheap pre-filter stage
    before any expensive decode."""
    m = media_blob_table(spark, sf_dir)
    return m.select(
        "doc_id",
        "media_type",
        F.col("meta.n_bytes").cast("bigint").alias("n_bytes"),
        F.md5("blob").alias("content_md5"),
    )


@query(
    "multimodal_decode_meta",
    """
    WITH blobs AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                            WHEN 1 THEN 'audio'
                                            ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
    )
    SELECT doc_id, media_type, n AS n_bytes,
           CAST(CASE media_type WHEN 'image' THEN 16 + n % 1024
                                WHEN 'audio' THEN 0 ELSE 320 END AS BIGINT) AS width,
           CAST(CASE media_type WHEN 'image' THEN 16 + (n * 7) % 768
                                WHEN 'audio' THEN 0 ELSE 240 END AS BIGINT) AS height,
           CAST(CASE media_type WHEN 'image' THEN 1
                                WHEN 'audio' THEN n // 4
                                ELSE greatest(1, n // 64) END AS BIGINT) AS n_frames
    FROM blobs
    """,
)
def multimodal_decode_meta(
    spark: SparkSession, sf_dir: str, media_type: str | None = None
) -> DataFrame:
    """The decode stage plumbing: Arrow-batched mapInPandas over the blob
    column (the real decoder would drop into fake_decode's place). One
    Python round-trip per batch; output schema is fixed and typed.

    ``media_type`` filters BEFORE the Python stage: the metadata column
    exists pre-decode, so a type-restricted consumer (frame sampling,
    resize planning) must not ship and decode the other types' payloads
    across the Arrow boundary only to discard 2/3 of the rows."""
    m = media_blob_table(spark, sf_dir)
    if media_type is not None:
        m = m.filter(F.col("media_type") == media_type)

    _fake = fake_decode  # nested fn -> captured by value, single definition

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — by-value closure

        for pdf in batches:
            metas = [
                _fake(blob, mt)
                for blob, mt in zip(pdf["blob"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(b) for b in pdf["blob"]],
                    "width": [x["width"] for x in metas],
                    "height": [x["height"] for x in metas],
                    "n_frames": [x["n_frames"] for x in metas],
                }
            )

    return m.mapInPandas(
        decode_batches,
        schema=(
            "doc_id bigint, media_type string, n_bytes bigint, "
            "width bigint, height bigint, n_frames bigint"
        ),
    )


@query(
    "multimodal_frame_sample",
    """
    WITH vids AS (
        SELECT doc_id,
               CAST(greatest(1, octet_length(encode(text)) // 64) AS BIGINT) AS n_frames
        FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
    )
    SELECT doc_id, n_frames,
           CAST(unnest(range(0, least(n_frames - 1, 24) + 1, 8)) AS BIGINT) AS frame_idx,
           concat(doc_id, ':', CAST(unnest(range(0, least(n_frames - 1, 24) + 1, 8)) AS BIGINT)) AS frame_key
    FROM vids
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame
    (every 8th frame, max 4) — the UDTF-style fan-out shape a video
    pipeline needs. Pure-expression fan-out via sequence+explode keeps it
    JVM-side; a real sampler would decode inside mapInPandas instead."""
    vids = multimodal_decode_meta(spark, sf_dir, media_type="video")
    frame_idx = F.explode(
        F.sequence(
            F.lit(0),
            F.least(F.col("n_frames") - 1, F.lit(24)),
            F.lit(8),
        )
    )
    return vids.select(
        "doc_id", "n_frames", frame_idx.alias("frame_idx")
    ).withColumn(
        "frame_key",
        F.concat_ws(":", F.col("doc_id"), F.col("frame_idx")),
    )


@query(
    "multimodal_feature_extract",
    """
    WITH blobs AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                            WHEN 1 THEN 'audio'
                                            ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n,
               CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1))
                    ELSE 0 END AS b0
        FROM documents
    ),
    feats AS (
        SELECT doc_id, media_type,
               list_transform(range(1, 9), i -> (n * i + 7 * b0) % 997) AS emb
        FROM blobs
    )
    SELECT doc_id, media_type,
           CAST(8 AS BIGINT) AS dim,
           CAST(list_aggregate(list_transform(emb, x -> x * x), 'sum') AS BIGINT)
               AS norm2,
           CAST(list_aggregate(list_transform(range(1, 9),
                    i -> i * emb[i]), 'sum') AS BIGINT) AS checksum
    FROM feats
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stage: blob -> fixed-width embedding inside an
    Arrow-batched mapInPandas (a real pipeline swaps the deterministic
    byte-arithmetic stand-in for a vision/audio encoder — same signature,
    same batch shape). Integer features so the oracle compares exactly;
    the summary scalars (norm2, checksum) pin every component without
    shipping float arrays through the hash compare."""
    m = media_blob_table(spark, sf_dir)

    # Self-contained closure (shipped by value; workers lack this package).
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd  # noqa: F811

        idx = np.arange(1, 9, dtype=np.int64)
        for pdf in batches:
            n = pdf["blob"].map(len).to_numpy(dtype=np.int64)
            # first CHARACTER's code point, matching the oracle's
            # ascii(substr(text,1,1)) — the first BYTE of the UTF-8 blob
            # diverges on any non-ASCII leading character (0xC3 vs 233
            # for 'é'); the blob is the UTF-8 encoding of the text, so
            # decoding is exact
            b0 = pdf["blob"].map(
                lambda b: ord(b.decode("utf-8")[0]) if len(b) else 0
            ).to_numpy(dtype=np.int64)
            emb = (n[:, None] * idx[None, :] + 7 * b0[:, None]) % 997
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "dim": np.full(len(pdf), 8, dtype=np.int64),
                    "norm2": (emb * emb).sum(axis=1),
                    "checksum": (emb * idx[None, :]).sum(axis=1),
                }
            )

    return m.mapInPandas(
        extract,
        schema=(
            "doc_id bigint, media_type string, dim bigint, "
            "norm2 bigint, checksum bigint"
        ),
    )


@query(
    "multimodal_resize_plan",
    """
    WITH imgs AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents WHERE CAST(doc_id % 3 AS INT) = 0
    ),
    dims AS (
        SELECT doc_id,
               16 + n % 1024 AS width,
               16 + (n * 7) % 768 AS height
        FROM imgs
    )
    SELECT doc_id, CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(CASE WHEN greatest(width, height) <= 256 THEN width
                     WHEN width >= height THEN 256
                     ELSE greatest(1, (width * 256) // height) END AS BIGINT)
               AS target_w,
           CAST(CASE WHEN greatest(width, height) <= 256 THEN height
                     WHEN height > width THEN 256
                     ELSE greatest(1, (height * 256) // width) END AS BIGINT)
               AS target_h
    FROM dims
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning for image rows: longest-side-to-256 with aspect
    preserved, computed over the decoded metadata with integer Catalyst
    expressions — the cheap planning stage that decides work BEFORE
    payload bytes move; the pixel resize itself would run next to the
    decoder inside mapInPandas."""
    imgs = multimodal_decode_meta(spark, sf_dir, media_type="image")
    w, h = F.col("width"), F.col("height")
    longest = F.greatest(w, h)
    return imgs.select(
        "doc_id",
        "width",
        "height",
        F.when(longest <= 256, w)
        .when(w >= h, F.lit(256))
        .otherwise(
            # integer `div`, not `/`: fp division + cast can round the
            # wrong way on exact multiples; DuckDB's `//` is integer floor
            F.greatest(F.lit(1), F.expr("(width * 256) div height"))
        )
        .cast("long")
        .alias("target_w"),
        F.when(longest <= 256, h)
        .when(h > w, F.lit(256))
        .otherwise(F.greatest(F.lit(1), F.expr("(height * 256) div width")))
        .cast("long")
        .alias("target_h"),
    )


# --------------------------------------------------------------------------
# REAL codecs — headerful public formats parseable without codec libraries
# --------------------------------------------------------------------------
# The container has no PIL/ffmpeg, but three real, publicly-specified
# uncompressed formats need nothing beyond the standard library:
#   image: binary PPM (Netpbm P6; P5 greyscale also accepted)
#   audio: PCM WAV (RIFF; parsed with the stdlib ``wave`` module)
#   video: YUV4MPEG2 (.y4m, 4:2:0) — mplayer/ffmpeg's raw interchange form
# ``decode`` sniffs magic bytes and parses for real; PIL remains an
# optional fallback for compressed images (PNG/JPEG) when installed.
#
# Everything is defined inside ``_build_codecs`` and captured by closures
# as LOCAL functions: cloudpickle ships nested functions by value, so the
# same single implementation runs on executors (which do not have this
# package on sys.path) and in unit tests — no inline duplicate to drift.


def _build_codecs() -> dict:
    import io
    import struct
    import wave

    def encode_ppm(width: int, height: int, fill: int) -> bytes:
        header = f"P6\n{width} {height}\n255\n".encode()
        return header + bytes([fill]) * (width * height * 3)

    def encode_wav(sample_rate: int, n_channels: int, n_samples: int,
                   value: int) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(n_channels)
            w.setsampwidth(2)
            w.setframerate(sample_rate)
            w.writeframes(
                struct.pack("<h", value) * (n_samples * n_channels)
            )
        return buf.getvalue()

    def encode_y4m(width: int, height: int, n_frames: int, y_fill: int) -> bytes:
        # frame f's luma plane is filled with (y_fill + f) % 256: per-frame
        # content varies, so a decoder frame-boundary bug (off-by-one in
        # frame size, miscounted UV planes) corrupts SPECIFIC frame means
        # instead of canceling out
        header = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()
        uv = bytes([128]) * ((width // 2) * (height // 2))
        out = [header]
        for f in range(n_frames):
            y = bytes([(y_fill + f) % 256]) * (width * height)
            out.append(b"FRAME\n" + y + uv + uv)
        return b"".join(out)

    def decode_ppm(blob: bytes) -> dict:
        # P6 header: magic, width, height, maxval as whitespace-separated
        # tokens ('#' comments allowed), then one raw RGB triple per pixel.
        tokens, pos = [], 2
        while len(tokens) < 3:
            while pos < len(blob) and blob[pos : pos + 1].isspace():
                pos += 1
            if blob[pos : pos + 1] == b"#":
                pos = blob.index(b"\n", pos) + 1
                continue
            start = pos
            while pos < len(blob) and not blob[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(blob[start:pos]))
        pos += 1  # single whitespace after maxval
        width, height, maxval = tokens
        if maxval > 255:
            # 2-byte-per-sample PPM/PGM: reject loudly like the other
            # unsupported containers rather than misparsing half the
            # pixel data as 1-byte samples
            raise NotImplementedError(
                f"PPM/PGM maxval {maxval} > 255 (2-byte samples) unsupported"
            )
        n_ch = 3 if blob[:2] == b"P6" else 1
        pixels = memoryview(blob)[pos : pos + width * height * n_ch]
        mean = (sum(pixels) / len(pixels)) if len(pixels) else 0.0
        return {
            "width": width, "height": height, "n_frames": 1,
            "sample_rate": 0, "n_channels": n_ch, "mean_level": mean,
        }

    def decode_wav(blob: bytes) -> dict:
        import numpy as np

        with wave.open(io.BytesIO(blob), "rb") as w:
            n_ch, sw, sr, nf = (
                w.getnchannels(), w.getsampwidth(), w.getframerate(),
                w.getnframes(),
            )
            raw = w.readframes(nf)
        if sw == 1:
            # 8-bit WAV PCM is UNSIGNED by spec (silence = 0x80)
            samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int32)
        elif sw == 2:
            samples = np.frombuffer(raw, dtype=np.dtype("<i2"))
        elif sw == 3:
            # 24-bit little-endian signed: assemble from byte triples
            b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
            vals = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            samples = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
        elif sw == 4:
            samples = np.frombuffer(raw, dtype=np.dtype("<i4"))
        else:
            raise NotImplementedError(f"unsupported WAV sample width {sw}")
        mean = float(samples.mean()) if samples.size else 0.0
        return {
            "width": 0, "height": 0, "n_frames": nf,
            "sample_rate": sr, "n_channels": n_ch, "mean_level": mean,
        }

    def decode_y4m(blob: bytes) -> dict:
        nl = blob.index(b"\n")
        width = height = None
        subsampling = "420"
        for tok in blob[:nl].split()[1:]:
            tag, val = chr(tok[0]), tok[1:].decode()
            if tag == "W":
                width = int(val)
            elif tag == "H":
                height = int(val)
            elif tag == "C":
                subsampling = val
        if width is None or height is None:
            raise ValueError("y4m header missing W/H")
        uv_size = {
            "420": (width // 2) * (height // 2),
            "422": (width // 2) * height,
            "444": width * height,
        }[subsampling[:3]]
        frame_size = width * height + 2 * uv_size
        pos, frame_means = nl + 1, []
        while pos < len(blob):
            if blob[pos : pos + 5] != b"FRAME":
                raise ValueError(f"bad FRAME marker at byte {pos}")
            pos = blob.index(b"\n", pos) + 1
            y_plane = memoryview(blob)[pos : pos + width * height]
            frame_means.append(sum(y_plane) / (width * height))
            pos += frame_size
        n_frames = len(frame_means)
        mean = sum(frame_means) / n_frames if n_frames else 0.0
        return {
            "width": width, "height": height, "n_frames": n_frames,
            "sample_rate": 0, "n_channels": 3, "mean_level": mean,
            "frame_means": frame_means,
        }

    def decode(blob: bytes, media_type: str | None = None) -> dict:
        """Typed metadata + mean sample level of a PPM / WAV / Y4M
        container (PIL-gated PNG/JPEG fallback); NotImplementedError for
        formats that need a codec library."""
        if blob[:2] in (b"P6", b"P5"):
            return decode_ppm(blob)
        if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
            return decode_wav(blob)
        if blob[:9] == b"YUV4MPEG2":
            d = dict(decode_y4m(blob))
            d.pop("frame_means")  # uniform scalar schema across media types
            return d
        try:  # optional: compressed images when PIL is installed
            from PIL import Image
        except ImportError:
            raise NotImplementedError(
                "unrecognized media container (not PPM/WAV/Y4M) and no "
                "codec library available; install Pillow for PNG/JPEG"
            ) from None
        import numpy as np

        with Image.open(io.BytesIO(blob)) as im:
            arr = np.asarray(im.convert("L"), dtype=np.float64)
            return {
                "width": im.width, "height": im.height,
                "n_frames": getattr(im, "n_frames", 1),
                "sample_rate": 0, "n_channels": len(im.getbands()),
                "mean_level": float(arr.mean()),
            }

    def media_params(doc_id: int) -> dict:
        """THE deterministic real-blob parameter schedule — every field is
        arithmetic in doc_id, mirrored by the multimodal_decode_real /
        multimodal_frame_stats_real oracle SQL. Single definition: the
        fixture encoder and tests both consume this nested (by-value
        shippable) copy, so the Python side cannot drift in two places —
        only the SQL mirror remains to keep in sync."""
        fill = doc_id % 256
        kind = doc_id % 3
        if kind == 0:
            return {"media_type": "image", "width": 8 + doc_id % 24,
                    "height": 8 + (doc_id * 7) % 16, "fill": fill}
        if kind == 1:
            return {"media_type": "audio",
                    "sample_rate": 8000 + 1000 * (doc_id % 4),
                    "n_channels": 1 + doc_id % 2,
                    "n_samples": 64 + doc_id % 128,
                    "value": fill * 64 - 8192}
        return {"media_type": "video", "width": 16 + 2 * (doc_id % 8),
                "height": 16 + 2 * ((doc_id * 3) % 8),
                "n_frames": 1 + doc_id % 5, "fill": fill}

    def encode_for_doc(doc_id: int) -> tuple[str, bytes]:
        p = media_params(doc_id)
        if p["media_type"] == "image":
            return "image", encode_ppm(p["width"], p["height"], p["fill"])
        if p["media_type"] == "audio":
            return "audio", encode_wav(
                p["sample_rate"], p["n_channels"], p["n_samples"], p["value"]
            )
        return "video", encode_y4m(
            p["width"], p["height"], p["n_frames"], p["fill"]
        )

    return {
        "encode_ppm": encode_ppm,
        "encode_wav": encode_wav,
        "encode_y4m": encode_y4m,
        "decode": decode,
        "decode_y4m": decode_y4m,
        "media_params": media_params,
        "encode_for_doc": encode_for_doc,
    }


_CODECS = _build_codecs()


# Deterministic real-blob parameter schedule: every field is arithmetic
# in doc_id, so the DuckDB oracle can state the EXPECTED decoder output
# and a header misparse fails the gate. ONE Python definition
# (_CODECS["media_params"], nested in _build_codecs so executors get it
# by value); only the SQL mirror in the oracle strings below is a second
# copy to keep in sync. (A standalone blob-table generator existed
# before r21; the fused encode+decode stages below made it dead code and
# it was removed — _CODECS["encode_for_doc"] is the single generator.)


@query(
    "multimodal_decode_real",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                        WHEN 1 THEN 'audio'
                                        ELSE 'video' END AS media_type,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 8 + doc_id % 24
                WHEN 1 THEN 0
                ELSE 16 + 2 * (doc_id % 8) END AS BIGINT) AS width,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 8 + (doc_id * 7) % 16
                WHEN 1 THEN 0
                ELSE 16 + 2 * ((doc_id * 3) % 8) END AS BIGINT) AS height,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 1
                WHEN 1 THEN 64 + doc_id % 128
                ELSE 1 + doc_id % 5 END AS BIGINT) AS n_frames,
           CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 1
                THEN 8000 + 1000 * (doc_id % 4) ELSE 0 END AS BIGINT)
               AS sample_rate,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 1 THEN 1 + doc_id % 2
                ELSE 3 END AS BIGINT) AS n_channels,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN doc_id % 256
                WHEN 1 THEN (doc_id % 256) * 64 - 8192
                ELSE list_aggregate(
                         list_transform(range(0, CAST(1 + doc_id % 5 AS INT)),
                                        f -> CAST((doc_id % 256 + f) % 256 AS DOUBLE)),
                         'avg')
                END AS DOUBLE) AS mean_level
    FROM documents
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real decode: genuine PPM/WAV/Y4M containers are built on
    executors, then PARSED back by the real decoder inside an
    Arrow-batched mapInPandas — the oracle states the expected header
    fields and mean sample level arithmetically, so a decoder bug (wrong
    endianness, off-by-one header scan, bad plane math) fails the gate.
    ``_CODECS["decode"]`` decodes for real; only genuinely codec-bound
    formats (PNG/JPEG without PIL) raise."""
    # Encode AND decode inside ONE Arrow stage (r21): the container bytes
    # are produced and parsed on the same executor worker, so the blobs
    # never cross the JVM<->Python boundary at all — only doc_id goes in
    # and the typed metadata comes out (guide §4: minimize columns across
    # the boundary; previously a standalone blob-table generator's
    # mapInPandas chained into a second decode mapInPandas, shipping
    # every blob JVM->Python twice and Python->JVM once). Both halves still
    # run for real — the decoder sees the same bytes it would read from
    # storage.
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    encode_for_doc = _CODECS["encode_for_doc"]
    dec = _CODECS["decode"]

    def gen_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — by-value closure

        for pdf in batches:
            made = [encode_for_doc(int(i)) for i in pdf["doc_id"]]
            metas = [dec(b) for _, b in made]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            out.insert(1, "media_type", [m for m, _ in made])
            yield out

    return d.mapInPandas(
        gen_and_decode,
        schema=(
            "doc_id bigint, media_type string, width bigint, height bigint, "
            "n_frames bigint, sample_rate bigint, n_channels bigint, "
            "mean_level double"
        ),
    )


@query(
    "multimodal_frame_stats_real",
    """
    WITH vids AS (
        SELECT doc_id,
               CAST(1 + doc_id % 5 AS INT) AS nf,
               doc_id % 256 AS fill
        FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
    )
    SELECT doc_id,
           CAST(unnest(range(0, nf)) AS BIGINT) AS frame_idx,
           CAST((fill + unnest(range(0, nf))) % 256 AS DOUBLE) AS mean_y
    FROM vids
    """,
)
def multimodal_frame_stats_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FRAME statistics from REAL Y4M parsing: each video blob's frame
    boundaries are walked by the decoder and every frame's luma mean is
    emitted as its own row (the UDTF-style fan-out a video pipeline needs
    between decode and frame-level featurization). The fixture varies
    each frame's fill, so the oracle pins every (doc_id, frame_idx,
    mean_y) individually — an off-by-one in the decoder's frame stride
    corrupts specific rows and fails the gate."""
    # Same single-Arrow-stage fusion as multimodal_decode_real (r21): the
    # video rows are selected with the JVM-side predicate the parameter
    # schedule defines (doc_id % 3 == 2 — the media_params media_type
    # rule, i.e. the pre-decode metadata filter), then each Y4M
    # container is encoded AND frame-walked inside one Python stage; the
    # blobs never cross the JVM boundary.
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 2)
    )
    encode_for_doc = _CODECS["encode_for_doc"]
    dec_y4m = _CODECS["decode_y4m"]

    def frame_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — by-value closure

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "mean_y": []}
            for doc_id in pdf["doc_id"]:
                _mt, blob = encode_for_doc(int(doc_id))
                for i, fm in enumerate(dec_y4m(blob)["frame_means"]):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["mean_y"].append(fm)
            yield pd.DataFrame(out)

    return d.mapInPandas(
        frame_rows, schema="doc_id bigint, frame_idx bigint, mean_y double"
    )
