"""Multimodal columns for training-data pipelines — SURVEY.md §2.11
(#74) plus the binary decode / feature-extract plumbing.

Design: media payloads are opaque ``binary`` columns with typed
metadata travelling beside them; decode / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages so bytes never round-trip
through Python row objects. DECODERS maps modality → callable. ALL
THREE modalities have REAL dependency-free decoders for uncompressed
containers: ``audio`` parses RIFF/WAVE PCM16 (chunk walk → fmt_ +
data → NumPy int16 → RMS), ``image`` parses PPM P6 headers, and
``video`` parses YUV4MPEG2 (.y4m) streams (header tags → FRAME walk →
per-plane luma stats) — each exercised end to end by an oracle-checked
operator (mm_audio_rms, mm_image_dims, mm_video_stats) over
engine-synthesized real containers. Compressed codecs (JPEG, H.264,
MP3) are NOT parseable dependency-free — production registers
Pillow/pyav/torchaudio decoders over the same DECODERS seam.
``fake_decode`` is a deterministic bytes-derived stand-in used where
the test needs a decode result without any container format.

Scale notes: mapInPandas streams Arrow record batches — payload
bytes cross to Python once per batch, not per row; size
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
payloads fits executor-python memory (e.g. 64 for 4 MB images).
Feature outputs are narrow rows → the downstream joins/aggs are
ordinary columnar work.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table

#: modality → decoder(payload: bytes) -> dict of features.
#: Production registers its codecs here; an unregistered modality
#: raises KeyError.
DECODERS: dict[str, Callable[[bytes], dict]] = {}


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode for uncompressed RIFF/WAVE PCM16: validate
    the RIFF/WAVE magic, walk the chunk list to the ``fmt `` and
    ``data`` chunks, then compute sample stats with one vectorized
    NumPy pass over the PCM frames. No codec library involved — this
    is the container math itself, so it runs in any environment."""
    import struct

    import numpy as np

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate = struct.unpack("<HHI", fmt[0:8])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only PCM16 supported, got fmt={audio_format} bits={bits}")
    raw = np.frombuffer(data, dtype="<i2").astype(np.int64)
    samples = raw.astype(np.float64)
    rms = float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0
    return {
        "sample_rate": int(sample_rate),
        "n_samples": samples.size // n_channels,
        "rms": rms,
        # integer-exact quality stats (mm_audio_quality_audit)
        "peak": int(np.abs(raw).max()) if raw.size else 0,
        "n_clipped": int((np.abs(raw) >= 32767).sum()),
        "sum_samples": int(raw.sum()),
    }


def decode_ppm(payload: bytes) -> dict:
    """REAL image decode for binary PPM (P6): parse the ASCII header
    (magic, width, height, maxval), then account for the raw RGB
    plane. Dependency-free by construction."""
    import numpy as np

    if payload[0:2] != b"P6":
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval per spec
    width, height, maxval = fields
    pixels = np.frombuffer(payload, dtype=np.uint8, offset=pos)
    if pixels.size != width * height * 3:
        raise ValueError("pixel plane size mismatch")
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "mean_pixel": float(pixels.mean()) if pixels.size else 0.0,
    }


def decode_y4m(payload: bytes) -> dict:
    """REAL video decode for uncompressed YUV4MPEG2 (.y4m): parse the
    stream header (W/H/F tags), then walk FRAME markers accounting for
    4:2:0 plane sizes, computing mean luma over every Y plane with one
    NumPy pass per frame. Container math only — dependency-free;
    compressed codecs (H.264 etc.) are where pyav would slot in."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("not a YUV4MPEG2 stream: missing header newline")
    header = payload[:nl].split(b" ")
    w = h = None
    for tag in header[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"C" and not tag[1:].startswith(b"420"):
            raise ValueError(f"only 4:2:0 supported, got {tag!r}")
    if not w or not h:
        raise ValueError("missing W/H in stream header")
    y_size, c_size = w * h, (w // 2) * (h // 2)
    pos = nl + 1
    n_frames, y_sum = 0, 0.0
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("expected FRAME marker")
        pos = fnl + 1
        y = np.frombuffer(payload, dtype=np.uint8, count=y_size, offset=pos)
        y_sum += float(y.sum())
        pos += y_size + 2 * c_size
        n_frames += 1
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")
    return {
        "width": w,
        "height": h,
        "n_frames": n_frames,
        "mean_y": y_sum / (n_frames * y_size) if n_frames else 0.0,
    }


DECODERS["audio"] = decode_wav
DECODERS["image"] = decode_ppm
DECODERS["video"] = decode_y4m


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in decoder: derives pseudo width/height/
    duration from the payload bytes. Keeps the pipeline testable
    without codecs; NOT a real decode."""
    digest = hashlib.md5(payload).digest()
    return {
        "width": 64 + digest[0],
        "height": 64 + digest[1],
        "n_frames": 1 + digest[2] % 8,
    }


def decode_features(
    df: DataFrame,
    payload_col: str = "payload",
    modality_col: str = "modality",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Decode/feature-extract stage over a binary payload column.

    ``decoder=None`` dispatches per-row modality via DECODERS (an
    unregistered modality raises KeyError); tests pass ``fake_decode``.
    """

    out_schema = (
        "doc_id long, n_bytes long, payload_md5 string, "
        "width int, height int, n_frames int"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload, modality in zip(
                pdf["doc_id"], pdf[payload_col], pdf[modality_col]
            ):
                data = bytes(payload)
                dec = decoder if decoder is not None else DECODERS[modality]
                feats = dec(data)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": len(data),
                        "payload_md5": hashlib.md5(data).hexdigest(),
                        "width": feats["width"],
                        "height": feats["height"],
                        "n_frames": feats["n_frames"],
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(batches, schema=out_schema)


def sample_frames(decoded: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame-sampling stage: explode pseudo frame indices 0..n_frames
    and keep every Nth — the shape of real video frame extraction
    (sequence → explode → filter) without the codec."""
    return (
        decoded.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % every_nth == 0)
    )


@register(
    "mm_doc_embedding_join",
    survey_row=74,
    oracle="""
    SELECT lang, label, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang, label
    """,
)
def mm_doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row assembly: join the text modality to its
    embedding modality on the shared id, aggregate label × lang —
    the canonical cross-modality co-location join (at scale: bucket
    both tables by the id so this join is shuffle-free)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "mm_binary_features",
    survey_row=74,
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, oracle-checked: build an opaque binary
    payload (utf-8 of text — a stand-in for real media bytes), push it
    through the Arrow mapInPandas decode stage, emit byte-level
    features. The md5/byte-count are SQL-expressible, so this proves
    the whole binary → pandas-batch → features path against the
    oracle."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("image").alias("modality"),
    )
    feats = decode_features(payloads, decoder=fake_decode)
    return feats.select("doc_id", "n_bytes", "payload_md5")


# fake_decode's md5-derived pseudo-dims, re-derived in DuckDB SQL so
# the Arrow decode stage itself is oracle-checkable: digest byte k of
# md5 = hex chars 2k+1..2k+2.
_SQL_HEXVAL = "(instr('0123456789abcdef', substring(md5(text), {pos}, 1)) - 1)"
_SQL_BYTE0 = f"({_SQL_HEXVAL.format(pos=1)} * 16 + {_SQL_HEXVAL.format(pos=2)})"
_SQL_BYTE1 = f"({_SQL_HEXVAL.format(pos=3)} * 16 + {_SQL_HEXVAL.format(pos=4)})"
_SQL_BYTE2 = f"({_SQL_HEXVAL.format(pos=5)} * 16 + {_SQL_HEXVAL.format(pos=6)})"
_SQL_FAKE_DECODE = f"""
    SELECT doc_id,
           64 + {_SQL_BYTE0} AS width,
           64 + {_SQL_BYTE1} AS height,
           1 + {_SQL_BYTE2} % 8 AS n_frames
    FROM documents
"""


def _fake_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text as an opaque binary payload — the stand-in media
    column all mm_* ops decode."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("image").alias("modality"),
    )


@register(
    "mm_frame_sample",
    survey_row=74,
    oracle=f"""
    WITH dec AS ({_SQL_FAKE_DECODE})
    SELECT doc_id, frame_idx
    FROM (SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx
          FROM dec)
    WHERE frame_idx % 2 = 0
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling, end to end: binary payload → Arrow
    mapInPandas decode (frame count) → sequence-explode → keep every
    2nd frame. The decode is the deterministic fake (no codecs in this
    container), which the oracle recomputes from md5 — so the whole
    decode→explode plumbing is hash-checked, not just smoke-run."""
    decoded = decode_features(_fake_payloads(spark, sf_dir), decoder=fake_decode)
    return sample_frames(decoded, every_nth=2)


@register(
    "mm_resize_plan",
    survey_row=74,
    oracle=f"""
    WITH dec AS ({_SQL_FAKE_DECODE})
    SELECT doc_id, width, height,
           CASE WHEN greatest(width, height) > 224
                THEN floor(width * 224 / greatest(width, height))::BIGINT
                ELSE width::BIGINT END AS out_w,
           CASE WHEN greatest(width, height) > 224
                THEN floor(height * 224 / greatest(width, height))::BIGINT
                ELSE height::BIGINT END AS out_h
    FROM dec
    """,
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage: decode dims via the Arrow stage, then compute the
    fit-within-224px output geometry (aspect-preserving) as pure
    Catalyst arithmetic. Real pixel resampling belongs in the same
    mapInPandas stage as the decode; the *plan* (what drives batch
    sizing and output schema) is engine-side and oracle-checked."""
    decoded = decode_features(_fake_payloads(spark, sf_dir), decoder=fake_decode)
    g = F.greatest(F.col("width"), F.col("height"))
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.when(g > 224, F.floor(F.col("width") * 224 / g))
        .otherwise(F.col("width").cast("long"))
        .alias("out_w"),
        F.when(g > 224, F.floor(F.col("height") * 224 / g))
        .otherwise(F.col("height").cast("long"))
        .alias("out_h"),
    )


def _synth_wav_payloads(df: DataFrame) -> DataFrame:
    """Build REAL RIFF/WAVE PCM16 containers, one per doc_id, inside
    an Arrow batch stage. Waveform is a closed-form function of
    (doc_id, i) so an oracle can re-derive the decoded stats without
    ever seeing the bytes: n = 64 + doc_id % 128 samples of
    s_i = ((doc_id·31 + i·7) mod 65536) − 32768 at 16 kHz mono."""
    import struct

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 64 + doc_id % 128
                samples = (
                    (doc_id * 31 + np.arange(n, dtype=np.int64) * 7) % 65536
                    - 32768
                ).astype("<i2")
                data = samples.tobytes()
                fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
                payload = (
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + struct.pack("<I", len(fmt))
                    + fmt
                    + b"data"
                    + struct.pack("<I", len(data))
                    + data
                )
                rows.append({"doc_id": doc_id, "payload": payload})
            yield pd.DataFrame(rows)

    return df.select("doc_id").mapInPandas(batches, schema="doc_id long, payload binary")


@register(
    "mm_audio_rms",
    survey_row=74,
    oracle="""
    WITH s AS (
        SELECT doc_id,
               unnest(generate_series(0, 64 + doc_id % 128 - 1)) AS i
        FROM documents
    )
    SELECT doc_id,
           16000 AS sample_rate,
           (64 + doc_id % 128)::BIGINT AS n_samples,
           round(sqrt(avg(pow(((doc_id * 31 + i * 7) % 65536) - 32768, 2))), 4)
               AS rms
    FROM s
    GROUP BY doc_id
    """,
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked end to end: synthesize a
    genuine RIFF/WAVE PCM16 container per document (Arrow batch
    stage), run the dependency-free WAV parser registered in
    DECODERS['audio'] (chunk walk → PCM frames → RMS), and emit
    (sample_rate, n_samples, rms). The waveform is a closed-form
    function of (doc_id, sample index), so DuckDB re-derives the same
    stats from arithmetic alone — any header-math, byte-order, or DSP
    slip in the parser breaks the hash. This is the proof that the
    binary→mapInPandas→features path runs a real container format,
    not fake_decode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = DECODERS["audio"]
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                feats = dec(bytes(payload))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "sample_rate": feats["sample_rate"],
                        "n_samples": feats["n_samples"],
                        "rms": feats["rms"],
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    payloads = _synth_wav_payloads(d)
    feats = payloads.mapInPandas(
        batches, schema="doc_id long, sample_rate long, n_samples long, rms double"
    )
    return feats.select(
        "doc_id", "sample_rate", "n_samples", F.round("rms", 4).alias("rms")
    )


def _synth_ppm_payloads(df: DataFrame) -> DataFrame:
    """Build REAL binary PPM (P6) images, one per doc_id: w = 1 +
    doc_id % 16, h = 1 + (doc_id·7) % 16, pixel k = (doc_id + k) mod
    256 — closed-form, so the decode is oracle-derivable."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 1 + doc_id % 16
                h = 1 + (doc_id * 7) % 16
                pixels = (
                    (doc_id + np.arange(w * h * 3, dtype=np.int64)) % 256
                ).astype(np.uint8)
                payload = f"P6\n{w} {h}\n255\n".encode() + pixels.tobytes()
                rows.append({"doc_id": doc_id, "payload": payload})
            yield pd.DataFrame(rows)

    return df.select("doc_id").mapInPandas(batches, schema="doc_id long, payload binary")


@register(
    "mm_image_dims",
    survey_row=74,
    oracle="""
    WITH s AS (
        SELECT doc_id,
               unnest(generate_series(
                   0, (1 + doc_id % 16) * (1 + (doc_id * 7) % 16) * 3 - 1)) AS k
        FROM documents
    )
    SELECT doc_id,
           (1 + doc_id % 16)::BIGINT AS width,
           (1 + (doc_id * 7) % 16)::BIGINT AS height,
           round(avg((doc_id + k) % 256), 4) AS mean_pixel
    FROM s
    GROUP BY doc_id
    """,
)
def mm_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked: synthesize genuine P6 PPM
    bytes per document, parse them with the dependency-free PPM header
    decoder registered in DECODERS['image'], emit (width, height,
    mean_pixel). Same proof shape as mm_audio_rms for the image
    modality."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = DECODERS["image"]
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                feats = dec(bytes(payload))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": feats["width"],
                        "height": feats["height"],
                        "mean_pixel": feats["mean_pixel"],
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    payloads = _synth_ppm_payloads(d)
    feats = payloads.mapInPandas(
        batches, schema="doc_id long, width long, height long, mean_pixel double"
    )
    return feats.select(
        "doc_id", "width", "height", F.round("mean_pixel", 4).alias("mean_pixel")
    )


def _synth_y4m_payloads(df: DataFrame) -> DataFrame:
    """Build REAL YUV4MPEG2 streams, one per doc_id: w = 2+2·(id%8),
    h = 2+2·((id·3)%8) (even dims for 4:2:0), 1+id%4 frames; Y-plane
    byte k of frame f = (id + f·17 + k) mod 256, chroma flat 128 —
    closed-form, so the decode is oracle-derivable."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 2 + 2 * (doc_id % 8)
                h = 2 + 2 * ((doc_id * 3) % 8)
                nf = 1 + doc_id % 4
                chroma = np.full((w // 2) * (h // 2) * 2, 128, np.uint8)
                parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode()]
                for f in range(nf):
                    y = (
                        (doc_id + f * 17 + np.arange(w * h, dtype=np.int64))
                        % 256
                    ).astype(np.uint8)
                    parts += [b"FRAME\n", y.tobytes(), chroma.tobytes()]
                rows.append({"doc_id": doc_id, "payload": b"".join(parts)})
            yield pd.DataFrame(rows)

    return df.select("doc_id").mapInPandas(batches, schema="doc_id long, payload binary")


@register(
    "mm_video_stats",
    survey_row=74,
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               2 + 2 * (doc_id % 8)        AS w,
               2 + 2 * ((doc_id * 3) % 8)  AS h,
               1 + doc_id % 4              AS nf
        FROM documents
    ),
    fk AS (
        SELECT doc_id, w, h, nf, f, unnest(generate_series(0, w * h - 1)) AS k
        FROM (SELECT doc_id, w, h, nf,
                     unnest(generate_series(0, nf - 1)) AS f
              FROM dims)
    )
    SELECT doc_id,
           w::BIGINT  AS width,
           h::BIGINT  AS height,
           nf::BIGINT AS n_frames,
           round(avg((doc_id + f * 17 + k) % 256), 4) AS mean_y
    FROM fk
    GROUP BY doc_id, w, h, nf
    """,
)
def mm_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, oracle-checked end to end: synthesize a
    genuine YUV4MPEG2 stream per document (Arrow batch stage), parse
    it with the dependency-free .y4m decoder registered in
    DECODERS['video'] (header tags → FRAME walk → 4:2:0 plane
    accounting → per-frame luma), and emit (width, height, n_frames,
    mean_y). The planes are a closed-form function of (doc_id, frame,
    offset), so DuckDB re-derives identical stats from arithmetic —
    any header, plane-size, or frame-walk slip in the parser breaks
    the hash. Completes the real-decoder story for all three
    modalities (audio/image/video)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = DECODERS["video"]
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                feats = dec(bytes(payload))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": feats["width"],
                        "height": feats["height"],
                        "n_frames": feats["n_frames"],
                        "mean_y": feats["mean_y"],
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    payloads = _synth_y4m_payloads(d)
    feats = payloads.mapInPandas(
        batches,
        schema="doc_id long, width long, height long, n_frames long, mean_y double",
    )
    return feats.select(
        "doc_id", "width", "height", "n_frames", F.round("mean_y", 4).alias("mean_y")
    )


@register(
    "mm_image_phash",
    survey_row=74,
    oracle="""
    WITH s AS (
        SELECT doc_id,
               unnest(generate_series(
                   0, (1 + doc_id % 16) * (1 + (doc_id * 7) % 16) * 3 - 1)) AS k
        FROM documents
    ),
    px AS (
        SELECT doc_id, k // 3 AS p,
               sum((doc_id + k) % 256) AS gray_sum
        FROM s GROUP BY doc_id, k // 3
    ),
    cell AS (
        SELECT doc_id,
               ((p % (1 + doc_id % 16)) * 8) // (1 + doc_id % 16) AS bx,
               ((p // (1 + doc_id % 16)) * 8) // (1 + (doc_id * 7) % 16) AS by,
               sum(gray_sum) AS cs
        FROM px GROUP BY doc_id, bx, by
    ),
    tot AS (
        SELECT doc_id, count(*) AS n_cells, sum(cs) AS total
        FROM cell GROUP BY doc_id
    )
    SELECT c.doc_id,
           t.n_cells::BIGINT AS n_cells,
           sum(CASE WHEN c.cs * t.n_cells > t.total
                         AND c.by * 8 + c.bx < 32
                    THEN (1::BIGINT << (c.by * 8 + c.bx))
                    ELSE 0 END)::BIGINT AS hash_lo,
           sum(CASE WHEN c.cs * t.n_cells > t.total
                         AND c.by * 8 + c.bx >= 32
                    THEN (1::BIGINT << (c.by * 8 + c.bx - 32))
                    ELSE 0 END)::BIGINT AS hash_hi
    FROM cell c JOIN tot t ON c.doc_id = t.doc_id
    GROUP BY c.doc_id, t.n_cells
    """,
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (aHash family) over REAL decoded bytes —
    the multimodal×dedup intersection: each synthesized P6 PPM is
    byte-parsed (header + raw RGB plane, the decode_ppm contract),
    average-pooled onto an 8×8 grid, and thresholded against the
    image's own cell mean into a 64-bit fingerprint (emitted as
    lo/hi 32-bit halves to stay inside signed BIGINT). Near-duplicate
    images then block on equal (or low-Hamming) hashes — the image
    twin of text_fingerprint. Every comparison is INTEGER-exact by
    construction (cell_sum · n_cells > total, never a float mean), so
    the closed-form DuckDB re-derivation of the same pixels is
    bit-identical — the mm_audio_rms proof shape: Spark decodes real
    bytes, the oracle recomputes from the synthesis formula. Images
    smaller than 8×8 populate only their reachable grid cells
    (n_cells in the output makes that explicit). Decode + hash run in
    one mapInPandas stage (Arrow-batched, no shuffle); the hash
    groupBy downstream is |corpus|-bounded."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if payload[0:2] != b"P6":
                    raise ValueError("not a P6 PPM")
                fields: list[int] = []
                pos = 2
                while len(fields) < 3:
                    while payload[pos : pos + 1].isspace():
                        pos += 1
                    start = pos
                    while not payload[pos : pos + 1].isspace():
                        pos += 1
                    fields.append(int(payload[start:pos]))
                pos += 1
                w, h, _maxval = fields
                pix = np.frombuffer(payload, np.uint8, offset=pos).astype(
                    np.int64
                )
                gray = pix.reshape(-1, 3).sum(axis=1)
                p = np.arange(w * h, dtype=np.int64)
                idx = ((p // w) * 8 // h) * 8 + (p % w) * 8 // w
                cells = np.zeros(64, np.int64)
                np.add.at(cells, idx, gray)
                present = np.zeros(64, bool)
                present[idx] = True
                n_cells = int(present.sum())
                total = int(cells[present].sum())
                bits = present & (cells * n_cells > total)
                lo = int(sum(1 << i for i in range(32) if bits[i]))
                hi = int(sum(1 << (i - 32) for i in range(32, 64) if bits[i]))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_cells": n_cells,
                        "hash_lo": lo,
                        "hash_hi": hi,
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    return _synth_ppm_payloads(d).mapInPandas(
        batches,
        schema="doc_id long, n_cells long, hash_lo long, hash_hi long",
    )


def phash_band_pairs(hashes: DataFrame) -> DataFrame:
    """Exhaustive-for-d<=3 Hamming pair stage over DISTINCT 64-bit
    hashes (signature collapse, then 4x16-bit band-bucket self-join +
    bit_count verify). Input: (doc_id, hash_lo, hash_hi); output:
    (rep_a, rep_b) where rep is each distinct hash's min doc_id —
    candidates stay bucket-bounded and the frame is
    |distinct hashes|-sized, never |docs|-sized."""
    groups = hashes.groupBy("hash_lo", "hash_hi").agg(
        F.min("doc_id").alias("rep")
    )
    mask = F.lit(65535)
    bands = groups.select(
        "rep",
        "hash_lo",
        "hash_hi",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("bx"),
                    F.col("hash_lo").bitwiseAND(mask).alias("bv"),
                ),
                F.struct(
                    F.lit(1).alias("bx"),
                    F.shiftright("hash_lo", 16).bitwiseAND(mask).alias("bv"),
                ),
                F.struct(
                    F.lit(2).alias("bx"),
                    F.col("hash_hi").bitwiseAND(mask).alias("bv"),
                ),
                F.struct(
                    F.lit(3).alias("bx"),
                    F.shiftright("hash_hi", 16).bitwiseAND(mask).alias("bv"),
                ),
            )
        ).alias("band"),
    ).select("rep", "hash_lo", "hash_hi", "band.bx", "band.bv")
    a = bands.select(
        F.col("bx"),
        F.col("bv"),
        F.col("rep").alias("rep_a"),
        F.col("hash_lo").alias("lo_a"),
        F.col("hash_hi").alias("hi_a"),
    )
    b = bands.select(
        F.col("bx"),
        F.col("bv"),
        F.col("rep").alias("rep_b"),
        F.col("hash_lo").alias("lo_b"),
        F.col("hash_hi").alias("hi_b"),
    )
    return (
        a.join(b, ["bx", "bv"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .filter(
            F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            <= 3
        )
        .select("rep_a", "rep_b")
        .distinct()
    )


@register(
    "mm_phash_neardup",
    survey_row=74,
    # The hash CTEs re-derive mm_image_phash's closed-form aHash per
    # doc (independently oracled there); the semantics under test
    # HERE are the Hamming neighborhood and the component labels. The
    # oracle verifies rep-level pairs ALL-PAIRS over DISTINCT hashes
    # (no banding — so banding completeness for d <= 3 over 4
    # disjoint 16-bit bands is still independently checked by the
    # pigeonhole guarantee) and closes components on the hash-group
    # graph, expanding labels back to docs. Doc-level semantics are
    # IDENTICAL to a doc-pair formulation: same-hash docs are always
    # connected (Hamming 0), so doc components == hash-group
    # components and the component minimum is the minimum group rep.
    # The collapsed form is what makes an sf10 oracle feasible at all
    # (doc-level all-pairs is 1.25e11 comparisons at 500k docs, and
    # the recurring-image fixture makes the doc pair set itself
    # ~1e9 rows — see the op docstring).
    oracle="""
    WITH RECURSIVE s AS (
        SELECT doc_id,
               unnest(generate_series(
                   0, (1 + doc_id % 16) * (1 + (doc_id * 7) % 16) * 3 - 1)) AS k
        FROM documents
    ),
    px AS (
        SELECT doc_id, k // 3 AS p,
               sum((doc_id + k) % 256) AS gray_sum
        FROM s GROUP BY doc_id, k // 3
    ),
    cell AS (
        SELECT doc_id,
               ((p % (1 + doc_id % 16)) * 8) // (1 + doc_id % 16) AS bx,
               ((p // (1 + doc_id % 16)) * 8) // (1 + (doc_id * 7) % 16) AS by,
               sum(gray_sum) AS cs
        FROM px GROUP BY doc_id, bx, by
    ),
    tot AS (
        SELECT doc_id, count(*) AS n_cells, sum(cs) AS total
        FROM cell GROUP BY doc_id
    ),
    h AS MATERIALIZED (
        SELECT c.doc_id,
               sum(CASE WHEN c.cs * t.n_cells > t.total
                             AND c.by * 8 + c.bx < 32
                        THEN (1::BIGINT << (c.by * 8 + c.bx))
                        ELSE 0 END)::BIGINT AS hash_lo,
               sum(CASE WHEN c.cs * t.n_cells > t.total
                             AND c.by * 8 + c.bx >= 32
                        THEN (1::BIGINT << (c.by * 8 + c.bx - 32))
                        ELSE 0 END)::BIGINT AS hash_hi
        FROM cell c JOIN tot t ON c.doc_id = t.doc_id
        GROUP BY c.doc_id
    ),
    g AS MATERIALIZED (
        SELECT hash_lo, hash_hi, min(doc_id) AS rep, count(*) AS n_docs
        FROM h GROUP BY hash_lo, hash_hi
    ),
    rp AS MATERIALIZED (
        SELECT a.rep AS ra, b.rep AS rb
        FROM g a JOIN g b ON a.rep < b.rep
        WHERE bit_count(xor(a.hash_lo, b.hash_lo)) +
              bit_count(xor(a.hash_hi, b.hash_hi)) <= 3
    ),
    redges AS MATERIALIZED (
        SELECT ra AS src, rb AS dst FROM rp
        UNION ALL
        SELECT rb, ra FROM rp
    ),
    rreach(node, r) AS (
        SELECT src, dst FROM redges
        UNION
        SELECT rreach.node, redges.dst
        FROM rreach JOIN redges ON rreach.r = redges.src
    ),
    rlab AS (
        SELECT node AS rep, least(node, min(r)) AS label
        FROM rreach GROUP BY node
    )
    SELECT h.doc_id,
           coalesce(rl.label, g.rep) AS canonical_id
    FROM h
    JOIN g ON h.hash_lo = g.hash_lo AND h.hash_hi = g.hash_hi
    LEFT JOIN rlab rl ON g.rep = rl.rep
    WHERE g.n_docs >= 2 OR rl.rep IS NOT NULL
    """,
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate clustering — the
    multimodal analog of the text near-dup path, composed from the
    machinery already proven piecewise: mm_image_phash's REAL PPM
    decode + integer-exact 64-bit aHash, the LSH-style band-bucket
    join, a native bit_count Hamming verify, and
    min_label_components clustering. Banding: the 64-bit hash splits
    into 4 disjoint 16-bit bands; by pigeonhole any pair within
    Hamming distance 3 agrees on at least one full band, so the
    band-key self-join is EXHAUSTIVE for d <= 3 (exact, not
    approximate — hence oracle-gated where sim_pairs_lsh is a bound
    contract) while candidates stay bucket-bounded: the plan has no
    cartesian/all-pairs node anywhere (plan-asserted).

    SIGNATURE COLLAPSE, because a doc-level band join times out at sf10
    — synthesized images recur every 256 doc_ids, so at 500k docs each
    identical-hash family holds ~1950 docs and every family's band
    bucket explodes to C(1950,2) x 4 candidate rows (~1.9e9 total; 900 s
    wall). Same class as dedup_near_minhash_lsh's signature collapse and
    dedup_components_star: pair work belongs on DISTINCT signatures. The
    band join runs over distinct (hash_lo, hash_hi) groups keyed by
    their min-doc rep (exactly 256 groups in these fixtures AT ANY
    SCALE; |distinct images|-bounded in general), components close on
    the metadata-sized group graph, and doc labels come from one linear
    hash-group join back (AQE broadcasts the group side when it is small
    — unhinted, the group count is data-dependent). Doc-level semantics
    are unchanged: same-hash docs are Hamming-0 connected, so doc
    components == hash-group components, the component min doc == min
    group rep, and a doc qualifies iff its group has >= 2 docs or its
    rep has an inter-group edge. Identical rows to the doc-level form at
    sf0.001-0.1; at sf10 the collapsed form runs in ~80 s where
    doc-level banding hit the 900 s wall.

    Scale: hashes are 1 mapInPandas decode stage; the group-by is the
    only fact-sized shuffle; at 100 TB of images the distinct-hash
    count (not the corpus size) bounds all pair work, which is the
    boilerplate-heavy shape real image corpora have."""
    from hive_metadata_collect_spark.llm.dedup import min_label_components

    hashes = mm_image_phash(spark, sf_dir).select(
        "doc_id", "hash_lo", "hash_hi"
    )
    groups = hashes.groupBy("hash_lo", "hash_hi").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n_docs")
    )
    rep_pairs = phash_band_pairs(hashes).select(
        F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b")
    )
    rep_labels = min_label_components(rep_pairs).select(
        F.col("doc_id").alias("rep"), F.col("canonical_id").alias("rep_label")
    )
    reps = groups.join(rep_labels, "rep", "left").select(
        "hash_lo",
        "hash_hi",
        "n_docs",
        F.coalesce("rep_label", "rep").alias("label"),
        F.col("rep_label").isNotNull().alias("has_edge"),
    )
    return (
        hashes.join(reps, ["hash_lo", "hash_hi"])
        .filter((F.col("n_docs") >= 2) | F.col("has_edge"))
        .select("doc_id", F.col("label").alias("canonical_id"))
    )


@register(
    "mm_audio_silence_segments",
    survey_row=74,
    oracle="""
    WITH d AS (
        SELECT doc_id, 64 + doc_id % 128 AS n FROM documents
    ),
    s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM d),
    samp AS (
        SELECT doc_id, i // 16 AS f,
               abs((doc_id * 31 + 7 * i) % 65536 - 32768) AS a
        FROM s WHERE i < (n // 16) * 16
    ),
    flagged AS (
        SELECT doc_id, f, (avg(a) < 16384) AS quiet
        FROM samp GROUP BY 1, 2
    ),
    islands AS (
        SELECT doc_id,
               f - row_number() OVER (
                   PARTITION BY doc_id ORDER BY f) AS anchor
        FROM flagged WHERE quiet
    ),
    runs AS (
        SELECT doc_id, anchor, count(*) AS run_len
        FROM islands GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_frames,
               sum(CASE WHEN quiet THEN 1 ELSE 0 END) AS n_quiet
        FROM flagged GROUP BY 1
    ),
    seg AS (
        SELECT doc_id, count(*) AS n_segments,
               max(run_len) AS longest_run
        FROM runs GROUP BY 1
    )
    SELECT a.doc_id, a.n_frames::BIGINT AS n_frames,
           a.n_quiet::BIGINT AS n_quiet_frames,
           coalesce(g.n_segments, 0)::BIGINT AS n_segments,
           coalesce(g.longest_run, 0)::BIGINT AS longest_run
    FROM agg a LEFT JOIN seg g ON a.doc_id = g.doc_id
    """,
)
def mm_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILENCE SEGMENTATION over REAL decoded audio — the
    speech-pipeline pre-step (VAD's dumb cousin) that decides which
    byte ranges are worth sending to an ASR model: walk the RIFF
    chunks to the PCM frames (same container math as decode_wav),
    window into 16-sample frames, flag frames whose mean |amplitude|
    is under half-scale, and reduce the flag sequence to
    (n_segments, longest_run) per clip with one vectorized NumPy
    pass — per-clip DSP belongs INSIDE the Arrow stage (a clip fits
    a task; the cluster parallelizes across clips, not within one).
    The waveform is closed-form in (doc_id, i), so the oracle
    re-derives frame energies and silence runs relationally —
    gaps-and-islands in SQL against NumPy run-length math, exact
    integer-arithmetic agreement. Frame mean uses a sum of ints
    over a power-of-two divisor: exact in double on both engines."""
    import struct

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                pos, data = 12, None
                while pos + 8 <= len(payload):
                    cid = payload[pos : pos + 4]
                    (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                    if cid == b"data":
                        data = payload[pos + 8 : pos + 8 + size]
                    pos += 8 + size + (size & 1)
                samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
                n_frames = samples.size // 16
                frames = np.abs(samples[: n_frames * 16]).reshape(n_frames, 16)
                quiet = frames.mean(axis=1) < 16384.0
                # run-length encode the quiet flags
                if quiet.any():
                    edges = np.diff(np.concatenate(([0], quiet.view(np.int8), [0])))
                    starts = np.flatnonzero(edges == 1)
                    ends = np.flatnonzero(edges == -1)
                    n_segments = int(starts.size)
                    longest = int((ends - starts).max())
                else:
                    n_segments, longest = 0, 0
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_frames": n_frames,
                        "n_quiet_frames": int(quiet.sum()),
                        "n_segments": n_segments,
                        "longest_run": longest,
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    payloads = _synth_wav_payloads(d)
    return payloads.mapInPandas(
        batches,
        schema=(
            "doc_id long, n_frames long, n_quiet_frames long,"
            " n_segments long, longest_run long"
        ),
    )


@register(
    "mm_video_scene_cuts",
    survey_row=74,
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               2 + 2 * (doc_id % 8)        AS w,
               2 + 2 * ((doc_id * 3) % 8)  AS h,
               1 + doc_id % 4              AS nf
        FROM documents
    ),
    fk AS (
        SELECT doc_id, w, h, unnest(range(nf)) AS f FROM dims
    ),
    px AS (
        SELECT doc_id, f, unnest(range(w * h)) AS k FROM fk
    ),
    luma AS (
        SELECT doc_id, f,
               avg((doc_id + 17 * f + k) % 256) AS mean_y
        FROM px GROUP BY 1, 2
    ),
    deltas AS (
        SELECT doc_id, f, mean_y,
               abs(mean_y - lag(mean_y) OVER (
                   PARTITION BY doc_id ORDER BY f)) AS d
        FROM luma
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_frames,
           round(min(CASE WHEN f = 0 THEN mean_y END), 4) AS first_mean_y,
           sum(CASE WHEN d > 8.0 THEN 1 ELSE 0 END)::BIGINT AS n_cuts
    FROM deltas
    GROUP BY doc_id
    """,
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCENE-CUT detection over REAL decoded video — the
    keyframe-sampling pre-step of a video training pipeline (cut
    boundaries are where you sample frames from): parse the YUV4MPEG2
    stream (header + FRAME-delimited 4:2:0 planes, same container
    walk as decode_y4m), take each frame's mean LUMA, and count
    inter-frame jumps above threshold. Per-clip frame math runs
    vectorized inside the Arrow stage (the clip is the parallel
    unit); the closed-form Y-plane lets the oracle recompute every
    frame mean relationally — both engines reach bit-identical
    doubles because the mean is an exact integer sum over an
    identical count. The threshold compare therefore cannot flip
    cross-engine."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                nl = payload.index(b"\n")
                header = payload[:nl].decode()
                w = h = None
                for tok in header.split():
                    if tok.startswith("W"):
                        w = int(tok[1:])
                    elif tok.startswith("H"):
                        h = int(tok[1:])
                ysize, csize = w * h, (w // 2) * (h // 2) * 2
                means, pos = [], nl + 1
                while pos < len(payload):
                    assert payload[pos : pos + 6] == b"FRAME\n"
                    pos += 6
                    y = np.frombuffer(
                        payload[pos : pos + ysize], dtype=np.uint8
                    ).astype(np.int64)
                    means.append(y.mean())
                    pos += ysize + csize
                means = np.array(means)
                cuts = int((np.abs(np.diff(means)) > 8.0).sum())
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_frames": len(means),
                        "first_mean_y": float(means[0]),
                        "n_cuts": cuts,
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    payloads = _synth_y4m_payloads(d)
    feats = payloads.mapInPandas(
        batches,
        schema=(
            "doc_id long, n_frames long, first_mean_y double, n_cuts long"
        ),
    )
    # round JVM-side (HALF_UP) — Python's round() is banker's and
    # could diverge from the oracle's round() at exact half-way marks
    return feats.withColumn("first_mean_y", F.round("first_mean_y", 4))


@register(
    "mm_image_channel_stats",
    survey_row=74,
    oracle="""
    WITH s AS (
        SELECT doc_id,
               unnest(generate_series(
                   0, (1 + doc_id % 16) * (1 + (doc_id * 7) % 16) * 3 - 1)) AS k
        FROM documents
    )
    SELECT doc_id,
           CAST(k % 3 AS BIGINT) AS channel,
           CAST(sum((doc_id + k) % 256) AS BIGINT) AS sum_px,
           min((doc_id + k) % 256) AS min_px,
           max((doc_id + k) % 256) AS max_px
    FROM s
    GROUP BY doc_id, k % 3
    """,
)
def mm_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CHANNEL statistics over REAL decoded P6 pixel planes —
    the normalization-constant pass (mean/range per R, G, B) every
    image-training pipeline computes before standardizing inputs.
    The decode stage reshapes the raw plane to (h·w, 3) and reduces
    each column with integer sum/min/max — every emitted number is
    an exact integer, so the closed-form oracle (the synth formula
    re-aggregated channel-wise in SQL) matches bit-for-bit with no
    rounding contract at all. Arrow-batched mapInPandas; per-image
    work is embarrassingly parallel, stats are 3 rows per image."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                # reuse the registered parser for header/plane offsets
                feats = DECODERS["image"](payload)
                w, h = feats["width"], feats["height"]
                plane = np.frombuffer(
                    payload, dtype=np.uint8, offset=len(payload) - w * h * 3
                ).reshape(-1, 3).astype(np.int64)
                for ch in range(3):
                    col = plane[:, ch]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "channel": ch,
                            "sum_px": int(col.sum()),
                            "min_px": int(col.min()),
                            "max_px": int(col.max()),
                        }
                    )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    payloads = _synth_ppm_payloads(d)
    return payloads.mapInPandas(
        batches,
        schema="doc_id long, channel long, sum_px long, min_px long, max_px long",
    )


@register(
    "mm_image_aspect_bucket",
    survey_row=74,
    oracle=f"""
    WITH dec AS ({_SQL_FAKE_DECODE}),
    ar AS (
        SELECT doc_id, width, height,
               (width * 1000) // height AS ar_x1000
        FROM dec
    )
    SELECT doc_id, width::BIGINT AS width, height::BIGINT AS height,
           ar_x1000::BIGINT AS ar_x1000,
           CASE WHEN ar_x1000 < 700 THEN 'portrait_tall'
                WHEN ar_x1000 < 900 THEN 'portrait'
                WHEN ar_x1000 < 1112 THEN 'square'
                WHEN ar_x1000 < 1429 THEN 'landscape'
                ELSE 'wide' END AS bucket,
           CASE WHEN ar_x1000 < 700 THEN 704
                WHEN ar_x1000 < 900 THEN 832
                WHEN ar_x1000 < 1112 THEN 1024
                WHEN ar_x1000 < 1429 THEN 1216
                ELSE 1408 END::BIGINT AS target_w,
           CASE WHEN ar_x1000 < 700 THEN 1408
                WHEN ar_x1000 < 900 THEN 1216
                WHEN ar_x1000 < 1112 THEN 1024
                WHEN ar_x1000 < 1429 THEN 832
                ELSE 704 END::BIGINT AS target_h
    FROM ar
    """,
)
def mm_image_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASPECT-RATIO bucketing — the batching planner image-generation
    training pipelines (SDXL-style) run so every batch holds
    same-shaped tensors: decode each image's dimensions, classify
    its aspect ratio into one of five fixed buckets, and emit the
    bucket's target resolution (equal-area targets, taller buckets
    swap W/H). Downstream, the shuffle key for batch assembly is the
    bucket — this op produces that key plus the resize target.

    The classifier is ALL-INTEGER (ar×1000 by floor division, range
    CASE) — the first instinct, nearest-bucket-by-|log ar| argmin,
    is a libm-dependent float compare that can tie-break differently
    per engine; integer range boundaries make the bucket decision
    bit-stable everywhere. Decode runs through the same Arrow
    mapInPandas stage as every mm_* op (deterministic fake decode,
    oracle recomputes from md5) — map-only after it, zero
    shuffles."""
    decoded = decode_features(_fake_payloads(spark, sf_dir), decoder=fake_decode)
    ar = decoded.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.floor(F.col("width") * 1000 / F.col("height")).alias("ar_x1000"),
    )
    a = F.col("ar_x1000")
    bucket = (
        F.when(a < 700, "portrait_tall")
        .when(a < 900, "portrait")
        .when(a < 1112, "square")
        .when(a < 1429, "landscape")
        .otherwise("wide")
    )
    tw = (
        F.when(a < 700, 704)
        .when(a < 900, 832)
        .when(a < 1112, 1024)
        .when(a < 1429, 1216)
        .otherwise(1408)
    )
    th = (
        F.when(a < 700, 1408)
        .when(a < 900, 1216)
        .when(a < 1112, 1024)
        .when(a < 1429, 832)
        .otherwise(704)
    )
    return ar.select(
        "doc_id",
        "width",
        "height",
        "ar_x1000",
        bucket.alias("bucket"),
        tw.cast("long").alias("target_w"),
        th.cast("long").alias("target_h"),
    )


@register(
    "mm_audio_quality_audit",
    survey_row=74,
    oracle="""
    WITH s AS (
        SELECT doc_id,
               ((doc_id * 31 + unnest(generate_series(0,
                    64 + doc_id % 128 - 1)) * 7) % 65536) - 32768 AS v
        FROM documents
    )
    SELECT doc_id,
           max(abs(v))::BIGINT AS peak,
           count(*) FILTER (WHERE abs(v) >= 32767)::BIGINT AS n_clipped,
           round(sum(v) * 1.0 / count(*), 4) AS dc_offset
    FROM s GROUP BY doc_id
    """,
)
def mm_audio_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio QUALITY audit over the real WAV decode path — the
    ingest-time filter an audio-training pipeline runs before
    anything touches a model: peak level (is there headroom?),
    clipped-sample count (|s| at full scale — distorted takes get
    dropped), and DC offset (a nonzero mean marks broken capture
    chains). Same REAL RIFF/WAVE PCM16 containers and chunk-walking
    parser as `mm_audio_rms` — the parser now also returns
    integer-exact (peak, n_clipped, sum) so the audit adds no second
    decode pass; the closed-form waveform lets DuckDB re-derive every
    stat from arithmetic alone, so header math, byte order, and the
    clipping comparison are all hash-gated.

    All three stats are integers or a single IEEE division (sum/n), so
    no accumulation-order risk. The UDF returns the RAW sum/n double and
    F.round(…, 4) applies JVM-side in the output projection — Python's
    round() is correctly-rounded decimal (banker's) while both engines'
    SQL round is half-up via float scaling, so rounding must happen
    engine-side to stay oracle-parallel (the discipline mm_av_sync_check
    documents). Arrow batch decode → per-doc reduce; embarrassingly
    parallel at scale, like every mm_* decode stage."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = DECODERS["audio"]
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                feats = dec(bytes(payload))
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "peak": feats["peak"],
                        "n_clipped": feats["n_clipped"],
                        "dc_raw": feats["sum_samples"]
                        / max(feats["n_samples"], 1),
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    decoded = _synth_wav_payloads(d).mapInPandas(
        batches, schema="doc_id long, peak long, n_clipped long, dc_raw double"
    )
    return decoded.select(
        "doc_id",
        "peak",
        "n_clipped",
        F.round("dc_raw", 4).alias("dc_offset"),
    )


def _synth_corrupt_wav_payloads(df: DataFrame) -> DataFrame:
    """The _synth_wav_payloads feed with DETERMINISTIC corruption
    seeded by doc_id residue — the mixed-quality crawl a real ingest
    sees: %7==1 bad magic (first four bytes stomped), %7==3 truncated
    to the bare RIFF/WAVE preamble (no chunks survive), %7==5 a
    non-PCM codec tag (IEEE-float fmt=3). Each class drives a
    DIFFERENT error path in the decoder, and each is closed-form in
    doc_id, so the quarantine reason is oracle-derivable."""
    import struct

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 64 + doc_id % 128
                samples = (
                    (doc_id * 31 + np.arange(n, dtype=np.int64) * 7) % 65536
                    - 32768
                ).astype("<i2")
                data = samples.tobytes()
                codec = 3 if doc_id % 7 == 5 else 1
                fmt = struct.pack("<HHIIHH", codec, 1, 16000, 32000, 2, 16)
                payload = (
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + struct.pack("<I", len(fmt))
                    + fmt
                    + b"data"
                    + struct.pack("<I", len(data))
                    + data
                )
                if doc_id % 7 == 1:
                    payload = b"JUNK" + payload[4:]
                elif doc_id % 7 == 3:
                    payload = payload[:12]
                rows.append({"doc_id": doc_id, "payload": payload})
            yield pd.DataFrame(rows)

    return df.select("doc_id").mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


@register(
    "mm_corrupt_quarantine",
    survey_row=74,
    oracle="""
    WITH s AS (
        SELECT doc_id,
               ((doc_id * 31 + unnest(generate_series(0,
                    64 + doc_id % 128 - 1)) * 7) % 65536) - 32768 AS v
        FROM documents
    ),
    pk AS (
        SELECT doc_id, count(*)::BIGINT AS n, max(abs(v))::BIGINT AS peak
        FROM s GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 7 IN (1, 3, 5) THEN 'quarantined'
                ELSE 'ok' END AS status,
           CASE WHEN d.doc_id % 7 = 1 THEN 'not a RIFF/WAVE container'
                WHEN d.doc_id % 7 = 3 THEN 'missing fmt/data chunk'
                WHEN d.doc_id % 7 = 5
                THEN 'only PCM16 supported, got fmt=3 bits=16'
           END AS reason,
           CASE WHEN d.doc_id % 7 IN (1, 3, 5) THEN NULL
                ELSE pk.n END AS n_samples,
           CASE WHEN d.doc_id % 7 IN (1, 3, 5) THEN NULL
                ELSE pk.peak END AS peak
    FROM documents d JOIN pk ON d.doc_id = pk.doc_id
    """,
)
def mm_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-CONTAINER QUARANTINE — the
    PERMISSIVE-mode analog of scan_corrupt_records for the binary
    decode path: the mm_* parsers RAISE on malformed payloads, which
    is right for a gated fixture and wrong for ingest, where one bad
    crawl byte must never fail a 10k-row Arrow batch. The feed seeds
    three deterministic corruption classes (bad magic / truncated
    preamble / non-PCM codec tag); the decode stage try/excepts PER
    ROW inside the batch, routing failures to (status='quarantined',
    reason=<decoder message>) and successes to the decoded stats —
    and ACCOUNTS FOR EVERY INPUT ROW (|out| == |in| by construction,
    the invariant a lossy quarantine silently breaks). Because each
    corruption class drives a different error path in the real
    chunk-walking parser, the reason STRINGS are part of the gate:
    the oracle re-derives which ValueError fired from doc_id alone,
    so a parser refactor that reorders its validation breaks the
    hash, not just a test. Scale: identical to every mm_* decode —
    Arrow mapInPandas, map-only, embarrassingly parallel; quarantined
    rows keep their payload-free metadata so the reject stream can be
    re-crawled or triaged without touching the hot path."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = DECODERS["audio"]
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    feats = dec(bytes(payload))
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "status": "ok",
                            "reason": None,
                            "n_samples": feats["n_samples"],
                            "peak": feats["peak"],
                        }
                    )
                except Exception as e:  # noqa: BLE001 — quarantine ALL
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "status": "quarantined",
                            "reason": str(e),
                            "n_samples": None,
                            "peak": None,
                        }
                    )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    return _synth_corrupt_wav_payloads(d).mapInPandas(
        batches,
        schema=(
            "doc_id long, status string, reason string,"
            " n_samples long, peak long"
        ),
    )


@register(
    "mm_av_sync_check",
    survey_row=74,
    oracle="""
    SELECT doc_id,
           (64 + doc_id % 128)::BIGINT AS n_samples,
           (1 + doc_id % 4)::BIGINT AS n_frames,
           round((64 + doc_id % 128) / 16000.0, 6) AS audio_s,
           round((1 + doc_id % 4) / 25.0, 6) AS video_s,
           abs((64 + doc_id % 128) / 16000.0
               - (1 + doc_id % 4) / 25.0) > 0.05 AS out_of_sync
    FROM documents
    """,
)
def mm_av_sync_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/V SYNC check — the container-pair consistency audit a
    video-training pipeline runs before muxing modalities (audio
    stream duration vs video stream duration; drift past a
    threshold means a broken demux or a dropped-frames capture and
    the pair is unusable for lip-sync/AV-alignment training): BOTH
    real parsers run per document — the RIFF/WAVE chunk walk for
    n_samples and the Y4M FRAME walk for n_frames — and durations
    are compared at a 50 ms tolerance. The fixture waveform/stream
    are closed-form, so the oracle re-derives both durations
    arithmetically; any drift in EITHER parser's accounting breaks
    the gate.

    One mapInPandas stage decodes both containers batch-wise (the
    payloads travel together — no join needed); each duration is a
    single IEEE division. Map-only at any scale."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wav, y4m = DECODERS["audio"], DECODERS["video"]
        for pdf in it:
            rows = []
            for doc_id, ap, vp in zip(
                pdf["doc_id"], pdf["audio_payload"], pdf["video_payload"]
            ):
                a = wav(bytes(ap))
                v = y4m(bytes(vp))
                audio_s = a["n_samples"] / a["sample_rate"]
                video_s = v["n_frames"] / 25.0
                # rounding happens JVM-side after the UDF: Python's
                # round() is banker's, SQL round() is half-up
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": a["n_samples"],
                        "n_frames": v["n_frames"],
                        "audio_s": audio_s,
                        "video_s": video_s,
                        "out_of_sync": abs(audio_s - video_s) > 0.05,
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    wavs = _synth_wav_payloads(d).withColumnRenamed("payload", "audio_payload")
    vids = _synth_y4m_payloads(d).withColumnRenamed("payload", "video_payload")
    paired = wavs.join(vids, "doc_id")
    decoded = paired.mapInPandas(
        batches,
        schema=(
            "doc_id long, n_samples long, n_frames long, "
            "audio_s double, video_s double, out_of_sync boolean"
        ),
    )
    return decoded.select(
        "doc_id",
        "n_samples",
        "n_frames",
        F.round("audio_s", 6).alias("audio_s"),
        F.round("video_s", 6).alias("video_s"),
        "out_of_sync",
    )


@register(
    "mm_image_histogram",
    survey_row=74,
    oracle="""
    WITH px AS (
        SELECT doc_id,
               (doc_id + unnest(generate_series(
                   0, (1 + doc_id % 16) * (1 + (doc_id * 7) % 16) * 3 - 1)))
                   % 256 AS v
        FROM documents
    )
    SELECT doc_id,
           (v // 32)::BIGINT AS bucket,
           count(*)::BIGINT AS n_px,
           min(v)::BIGINT AS bucket_min,
           max(v)::BIGINT AS bucket_max
    FROM px GROUP BY doc_id, v // 32
    """,
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image INTENSITY histogram (8 buckets of 32 levels) over
    the REAL PPM decode — the exposure/contrast profile an image-
    curation pipeline filters on (all-dark, all-blown, low-dynamic-
    range images are training poison that mean-only stats like
    `mm_image_channel_stats` can't see: a 50 %-black/50 %-white
    image and a flat gray one share a mean). The parser's pixel
    plane is histogrammed inside the Arrow batch stage (np.bincount
    per image — one vectorized pass), and the closed-form pixel
    function lets the oracle recompute every bucket exactly.

    Output is (doc, bucket) rows — integer counts only, nothing to
    round anywhere. Decode stays embarrassingly parallel; the
    histogram adds |docs|×8 rows of output, not a shuffle of
    pixels."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                # reuse the P6 header walk from decode_ppm, then
                # histogram the raw plane
                nl = payload.index(b"\n", payload.index(b"\n", 3) + 1)
                pixels = np.frombuffer(payload, dtype=np.uint8, offset=nl + 1)
                hist = np.bincount(pixels >> 5, minlength=8)
                for b in range(8):
                    if hist[b]:
                        bucket_px = pixels[(pixels >> 5) == b]
                        rows.append(
                            {
                                "doc_id": int(doc_id),
                                "bucket": b,
                                "n_px": int(hist[b]),
                                "bucket_min": int(bucket_px.min()),
                                "bucket_max": int(bucket_px.max()),
                            }
                        )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    return _synth_ppm_payloads(d).mapInPandas(
        batches,
        schema=(
            "doc_id long, bucket long, n_px long, "
            "bucket_min long, bucket_max long"
        ),
    )


@register(
    "mm_format_sniff",
    survey_row=74,
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'wav'
                           WHEN 1 THEN 'ppm'
                           ELSE 'y4m' END AS detected,
           CASE doc_id % 3 WHEN 0 THEN 'audio'
                           WHEN 1 THEN 'image'
                           ELSE 'video' END AS modality,
           TRUE AS sniff_ok
    FROM documents
    """,
)
def mm_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT sniffing — the dispatcher that stands in FRONT of
    DECODERS in a real ingest (payloads arrive as bytes with no
    trustworthy extension; the container's magic bytes are the only
    truth): a MIXED payload column (each doc synthesized as one of
    the three REAL containers by residue class) is classified from
    its leading bytes — RIFF → wav, P6 → ppm, YUV4MPEG2 → y4m —
    and routed to a modality. The oracle knows which container each
    doc SHOULD be (the residue), so the gate proves the sniffer
    recognizes real magic bytes on real containers, not just that
    the CASE mirrors itself; sniff_ok would break the hash the
    moment the sniffer and the synthesis disagree.

    The sniff itself is a per-row prefix compare inside the Arrow
    batch stage — at scale this is the cheap pre-pass that lets a
    mixed media lake fan out to per-modality decode stages without
    a trial-decode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                    det, mod = "wav", "audio"
                elif p[:2] == b"P6":
                    det, mod = "ppm", "image"
                elif p.startswith(b"YUV4MPEG2"):
                    det, mod = "y4m", "video"
                else:
                    det, mod = "unknown", "unknown"
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "detected": det,
                        "modality": mod,
                        "sniff_ok": det != "unknown",
                    }
                )
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents")
    wav = _synth_wav_payloads(d.filter(F.col("doc_id") % 3 == 0))
    ppm = _synth_ppm_payloads(d.filter(F.col("doc_id") % 3 == 1))
    y4m = _synth_y4m_payloads(d.filter(F.col("doc_id") % 3 == 2))
    mixed = wav.unionAll(ppm).unionAll(y4m)
    return mixed.mapInPandas(
        batches,
        schema="doc_id long, detected string, modality string, sniff_ok boolean",
    )


@register(
    "mm_webdataset_shard_plan",
    survey_row=74,
    oracle="""
    WITH sized AS (
        SELECT doc_id,
               44 + 2 * (64 + doc_id % 128) AS payload_bytes
        FROM documents
    ),
    packed AS (
        SELECT doc_id, payload_bytes,
               coalesce(sum(payload_bytes) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) // 4096 AS shard_id
        FROM sized
    )
    SELECT shard_id::BIGINT AS shard_id,
           count(*)::BIGINT AS n_samples,
           sum(payload_bytes)::BIGINT AS shard_bytes,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed GROUP BY shard_id
    """,
)
def mm_webdataset_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEBDATASET shard planner — the tar-sharding step every
    large-scale media-training loader assumes (samples streamed
    sequentially from ~fixed-size tar shards; the shard boundaries
    ARE the I/O unit and the shuffle granularity): REAL payload
    sizes (each doc's RIFF/WAVE container — 44-byte header + 2
    bytes/sample, the exact bytes `mm_audio_rms` parses) are packed
    in doc order into ~4 KB shards by the exclusive-running-sum
    division rule (`cat_compaction_plan`'s bin packer applied to
    media), emitting per-shard sample counts, byte totals, and the
    doc-id range a loader needs for random shard access.

    The size column comes from the container FORMULA — the oracle
    re-derives it, so a header-size or sample-width slip in the
    synthesizer breaks the gate. One ordered window over |docs|
    rows (at real scale: per-bucket windows after a range
    partition, same plan as the compaction op)."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        (44 + 2 * (64 + F.col("doc_id") % 128)).alias("payload_bytes"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    packed = sized.withColumn(
        "shard_id",
        F.floor(
            F.coalesce(F.sum("payload_bytes").over(w), F.lit(0)) / 4096
        ),
    )
    return packed.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("payload_bytes").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
