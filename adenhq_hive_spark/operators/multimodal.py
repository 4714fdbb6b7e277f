"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata (the reference's multimodal surface is vision_tool.py:
image URL/base64 → annotation rows; vision_tool.py:115-349).

The Spark-side plumbing — schema, partition-preserving mapInPandas, Arrow
batch shapes, annotation output schema — is real and tested.  Metadata
decode is ALSO real: ``parse_media_meta`` parses PNG / JPEG / GIF
(static + animated, frame-counting block walk) / WAV containers with the
stdlib per their public specs — no pillow/ffmpeg needed for
width/height/format/frame-count.  Pixel/sample DECODING (pixel arrays,
resampling) still needs codec libs absent from this container; that seam
stays honest: ``decode_stub='raise'`` raises NotImplementedError, and
``decode_stub='fake'`` keeps the old hash-derived pseudo-decode for
payloads that are not real media (e.g. text bytes standing in).

``synthetic_media_table`` generates structurally valid payloads with the
stdlib (full PNG with CRCs + zlib IDAT; JPEG SOI/APP0/SOF0 marker stream;
GIF89a with per-frame image descriptors + LZW sub-blocks; PCM WAV), so
the real parser path is testable — and DuckDB-oracle-checkable, because
every dimension is a pure function of media_id.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table over the documents testdata: text
    bytes stand in for encoded media payloads (binary column + typed
    metadata), so the full pipeline is drivable without codec libs."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    content = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        content.alias("content"),
        F.struct(
            F.col("source").alias("source"),
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            F.length(content).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


# ---- stdlib media encoders (synthetic fixtures, deterministic) ------------


def _encode_png(w: int, h: int) -> bytes:
    """Fully valid 8-bit grayscale PNG (correct CRCs, complete IDAT)."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"\x00" * (h * (w + 1))  # filter byte + scanline per row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _encode_jpeg(w: int, h: int) -> bytes:
    """JPEG marker stream: SOI + APP0(JFIF) + SOF0 carrying dimensions +
    EOI. Structurally valid for metadata parsers; no entropy-coded scan."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )


def _encode_gif(w: int, h: int, n_frames: int) -> bytes:
    """GIF89a with ``n_frames`` image descriptors, each with minimal LZW
    data sub-blocks — parseable by a spec-conforming block walker."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h) + b"\x00\x00\x00"  # no GCT
    for _ in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += b"\x02\x01\x00\x00"  # LZW min code, 1-byte block, terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def _encode_wav(n_samples: int) -> bytes:
    """PCM WAV, 1 channel, 8 kHz, 8-bit: fmt + data chunks."""
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = b"\x00" * n_samples
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---- stdlib media parsers (the real metadata-decode path) ------------------


def parse_media_meta(content: bytes) -> tuple[str, int, int, int] | None:
    """(format, width, height, n_frames) parsed from real container bytes
    with the stdlib, or None if the payload is not recognized media.

    PNG: IHDR fields. JPEG: first SOFn marker's dimensions. GIF: logical
    screen descriptor + a full block walk counting image descriptors
    (animated GIFs report their frame count). WAV: fmt/data chunk walk,
    frames = data bytes / block align.
    """
    if content[:8] == b"\x89PNG\r\n\x1a\n" and len(content) >= 24:
        w, h = struct.unpack(">II", content[16:24])
        return ("png", w, h, 1)
    if content[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(content):
            if content[i] != 0xFF:
                break
            marker = content[i + 1]
            if marker == 0xD9:  # EOI
                break
            seglen = struct.unpack(">H", content[i + 2:i + 4])[0]
            if marker in range(0xC0, 0xD0) and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(content):
                    h, w = struct.unpack(">HH", content[i + 5:i + 9])
                    return ("jpeg", w, h, 1)
                break
            i += 2 + seglen
        return None
    if content[:6] in (b"GIF87a", b"GIF89a") and len(content) >= 13:
        w, h = struct.unpack("<HH", content[6:10])
        flags = content[10]
        i = 13
        if flags & 0x80:
            i += 3 * (2 << (flags & 0x07))  # global color table
        frames = 0

        def skip_subblocks(j: int) -> int:
            while j < len(content) and content[j] != 0:
                j += 1 + content[j]
            return j + 1

        while i < len(content):
            b = content[i]
            if b == 0x3B:  # trailer
                break
            if b == 0x21 and i + 1 < len(content):  # extension
                i = skip_subblocks(i + 2)
            elif b == 0x2C and i + 9 < len(content):  # image descriptor
                frames += 1
                lflags = content[i + 9]
                i += 10
                if lflags & 0x80:
                    i += 3 * (2 << (lflags & 0x07))
                i = skip_subblocks(i + 1)  # LZW min code size, then blocks
            else:
                break
        return ("gif", w, h, max(frames, 1))
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        i = 12
        block_align, data_size = 1, 0
        while i + 8 <= len(content):
            tag = content[i:i + 4]
            size = struct.unpack("<I", content[i + 4:i + 8])[0]
            if tag == b"fmt " and i + 22 <= len(content):
                block_align = struct.unpack("<H", content[i + 20:i + 22])[0]
            elif tag == b"data":
                data_size = size
            i += 8 + size + (size & 1)
        return ("wav", 0, 0, data_size // max(block_align, 1))
    return None


def _byte_histogram(content: bytes, bins: int = 16) -> list[float]:
    """Normalized 16-bin byte histogram — a real, deterministic feature."""
    counts = [0] * bins
    for b in content:
        counts[b * bins // 256] += 1
    n = max(len(content), 1)
    return [c / n for c in counts]


def _decode_kernel(
    content: bytes, kind: str, mode: str
) -> tuple[str, int, int, int, list[float]]:
    """The codec seam: (format, width, height, n_frames, feature).

    mode='real': stdlib container parse (parse_media_meta) + byte-histogram
    feature; unrecognized payloads report ('unknown', 0, 0, 0).
    mode='fake': deterministic pseudo-decode from the sha256 of the bytes
    (for payloads that are not real media).
    mode='raise': the honest stub for missing pixel/sample codec libraries.
    """
    if mode == "raise":
        raise NotImplementedError(
            "No codec libraries in this container; install pillow/ffmpeg "
            "and implement _decode_kernel for pixel/sample decode."
        )
    if mode == "real":
        meta = parse_media_meta(content)
        fmt, width, height, n_frames = meta or ("unknown", 0, 0, 0)
        return fmt, width, height, n_frames, _byte_histogram(content)
    digest = hashlib.sha256(content).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    n_frames = 1 if kind == "image" else 1 + digest[2] % 32
    feature = [b / 255.0 for b in digest[:16]]
    return "fake", width, height, n_frames, feature


def decode_media(
    media: DataFrame, batch_size_hint: int = 256, decode_stub: str = "fake"
) -> DataFrame:
    """Decode/feature-extract media via Arrow-batched mapInPandas.

    Partition-preserving (no shuffle); each pandas batch maps payload
    bytes → (dims, frames, feature vector). At 100 TB the binary column
    dominates I/O, so the transform prunes to exactly the needed columns
    before the Python stage.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "format": [],
                "width": [], "height": [], "n_frames": [], "feature": [],
            }
            for content, kind in zip(pdf["content"], pdf["kind"]):
                fmt, w, h, nf, feat = _decode_kernel(
                    bytes(content), kind, decode_stub
                )
                out["format"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    pruned = media.select("media_id", "kind", "content")
    return pruned.mapInPandas(batches, schema=DECODED_SCHEMA)


def synthetic_media_table(docs: DataFrame) -> DataFrame:
    """Media table with REAL container payloads (see the stdlib encoders):
    kind by media_id % 3 — image (png/jpeg/gif cycling by media_id//3),
    audio (wav), video (animated gif). Every dimension is a pure function
    of media_id, so a SQL oracle can verify the real parser:

        width    = 64 + media_id % 192        (0 for audio)
        height   = 64 + (media_id * 7) % 192  (0 for audio)
        n_frames = image 1 | audio 1000 + (media_id % 50) * 100
                           | video 2 + media_id % 10

    Generation is a fixture path (synthetic bytes per row in Python);
    production data arrives already encoded — the 100 TB-relevant side is
    the parser, which runs in the same Arrow-batched kernel as any codec.
    """

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "content": [], "meta": []}
            for mid in pdf["doc_id"]:
                mid = int(mid)
                w, h = 64 + mid % 192, 64 + (mid * 7) % 192
                if mid % 3 == 0:
                    kind = "image"
                    fmt = ("png", "jpeg", "gif")[(mid // 3) % 3]
                    content = {
                        "png": _encode_png,
                        "jpeg": _encode_jpeg,
                        "gif": lambda a, b: _encode_gif(a, b, 1),
                    }[fmt](w, h)
                    mime = f"image/{fmt}"
                elif mid % 3 == 1:
                    kind = "audio"
                    content = _encode_wav(1000 + (mid % 50) * 100)
                    mime = "audio/wav"
                else:
                    kind = "video"
                    content = _encode_gif(w, h, 2 + mid % 10)
                    mime = "image/gif"  # animated gif as the video stand-in
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                rows["content"].append(content)
                rows["meta"].append(
                    {"source": "synthetic", "mime": mime,
                     "n_bytes": len(content)}
                )
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


def frame_sample(decoded: DataFrame, every_nth: int = 4) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per kept frame
    index (sequence + explode, JVM-side)."""
    frames = F.explode(
        F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))
    ).alias("frame_idx")
    return decoded.filter(F.col("kind") == "video").select(
        "media_id", "width", "height", frames
    )


ANNOTATION_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField(
            "annotations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("label", T.StringType()),
                        T.StructField("score", T.DoubleType()),
                        T.StructField("x", T.IntegerType()),
                        T.StructField("y", T.IntegerType()),
                        T.StructField("w", T.IntegerType()),
                        T.StructField("h", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _score4(p: int, q: int) -> float:
    """round(p/q, 4) HALF-UP via integer arithmetic — Python's round()
    is banker's (half-even) and disagrees with SQL ROUND on exact
    .xxxx5 ratios (e.g. 17/32); the DIV form matches the oracle's
    integer formulation bit-for-bit (see text.repetition_stats)."""
    return ((p * 20000 + q) // (2 * q)) / 10000.0


def annotate_media(decoded: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Vision-annotation analog over the media table (reference
    vision_tool.py:115-349: detect_labels / localize_objects return
    ``[{description|name, score, bounds}]`` per item).

    Same response shape — ``annotations: array<struct<label, score,
    x, y, w, h>>`` — produced by a deterministic geometry annotator
    instead of a cloud vision API (no network in this container; an
    API-backed annotator would slot into the same kernel). The Spark
    plumbing is the real thing and is what matters at 100 TB:
    partition-preserving Arrow-batched ``mapInPandas`` (no shuffle),
    column-pruned input (the binary column never reaches this stage —
    it was consumed by decode), typed nested output that downstream
    DataFrame ops can explode/filter without parsing.

    Labels per visual item: orientation (landscape/portrait/square,
    center-crop box, score = max(w,h)/(w+h)) and motion
    (animated/still, full-frame box, score = n_frames/(n_frames+1));
    audio items get a single 'audio' annotation. All fields are exact
    integer functions of the decoded geometry, so the DuckDB oracle
    recomputes them from the synthetic media_id formulas and any
    annotator regression hash-mismatches.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            anns_col = []
            for kind, w, h, nf in zip(
                pdf["kind"], pdf["width"], pdf["height"], pdf["n_frames"]
            ):
                w, h, nf = int(w), int(h), int(nf)
                if kind == "audio" or (w == 0 and h == 0):
                    # no geometry to annotate: audio payloads by design,
                    # visual payloads whose container failed to parse
                    label = "audio" if kind == "audio" else "unknown"
                    anns_col.append(
                        [(label, _score4(nf, nf + 1), 0, 0, 0, 0)]
                    )
                    continue
                orient = (
                    "landscape" if w > h
                    else "portrait" if w < h
                    else "square"
                )
                anns_col.append(
                    [
                        (
                            orient,
                            _score4(max(w, h), w + h),
                            w // 4, h // 4, w // 2, h // 2,
                        ),
                        (
                            "animated" if nf > 1 else "still",
                            _score4(nf, nf + 1),
                            0, 0, w, h,
                        ),
                    ]
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "annotations": anns_col,
                }
            )

    pruned = decoded.select("media_id", "kind", "width", "height", "n_frames")
    return pruned.mapInPandas(batches, schema=ANNOTATION_SCHEMA)


def media_phash(media: DataFrame, decode_stub: str = "real") -> DataFrame:
    """Perceptual hash per media row: threshold the decoded feature
    vector against its own mean, one bit per component (aHash shape —
    the mean-threshold perceptual hash of the image-dedup literature).

    In this container the feature is the REAL 16-bin byte histogram
    (decode_media mode='real'); with pixel codecs installed the same
    kernel yields an 8x8 luma grid and this function unchanged produces
    the classic 64-bit aHash — the hashing/banding/verification
    machinery is codec-agnostic.

    The bit order is component order (bit i = feature[i] > mean), packed
    into a BIGINT JVM-side. Output: (media_id, kind, phash).
    """
    decoded = decode_media(media, decode_stub=decode_stub)
    with_mean = decoded.withColumn(
        "fmean",
        F.expr("aggregate(feature, 0D, (a, x) -> a + x) / size(feature)"),
    )
    packed = F.expr(
        "aggregate(zip_with(feature, sequence(0, size(feature) - 1), "
        "(x, i) -> IF(x > fmean, shiftleft(1L, i), 0L)), "
        "0L, (a, b) -> a | b)"
    )
    return with_mean.select("media_id", "kind", packed.alias("phash"))


def phash_groups(media: DataFrame, decode_stub: str = "real") -> DataFrame:
    """Exact perceptual-hash duplicate groups: media rows sharing a
    (kind, phash) cell, with the min-id keeper — the GROUP formulation
    of media dedup, which stays linear when the hash space has low
    entropy (identical-hash cliques would make a pair list quadratic;
    the 16-bin histogram hash of this container's byte-level tier
    collapses heavily on same-encoder synthetic media, and any corpus
    has boilerplate assets). Pair enumeration (:func:`phash_pairs`)
    is for the high-entropy pixel-hash regime.

    Output: (kind, phash, n, keep_id) for groups with n > 1, unordered.
    """
    ph = media_phash(media, decode_stub=decode_stub)
    return (
        ph.groupBy("kind", "phash")
        .agg(F.count("*").alias("n"), F.min("media_id").alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def phash_pairs(
    media: DataFrame,
    max_hamming: int = 1,
    n_bands: int = 4,
    bits: int = 16,
    decode_stub: str = "real",
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash hamming distance —
    the image-dedup tier: band the hash into ``n_bands`` chunks
    (pigeonhole: hamming <= n_bands - 1 guarantees one identical chunk,
    so recall is total for ``max_hamming < n_bands``), join on
    same-(band, chunk), verify with exact JVM bit_count(xor). Same
    candidate algebra as the SimHash text tier (operators/dedup.py:
    simhash_pairs) — media dedup is the same machinery over a different
    feature space.

    Compares within ``kind`` only (an audio histogram colliding with an
    image histogram is noise, not a duplicate). Output:
    (id_a, id_b, kind, hamming), hamming <= max_hamming.
    """
    chunk_bits = bits // n_bands
    mask = (1 << chunk_bits) - 1
    ph = media_phash(media, decode_stub=decode_stub)
    chunks = ph.select(
        F.col("media_id").alias("id"),
        "kind",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("phash"), chunk_bits * c)
                    .bitwiseAND(F.lit(mask))
                    for c in range(n_bands)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    hamming = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            on=[
                F.col("a.kind") == F.col("b.kind"),
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.kind").alias("kind"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def phash_portable(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Engine-portable twin of :func:`media_phash`'s mean-threshold
    bit-packing algebra (the pattern pl_minhash_portable /
    pl_simhash_portable use for the sketch tiers): the same
    one-bit-per-component aHash, made value-checkable against a SQL
    oracle by removing every float knife-edge from the decision.

    Portability devices (each rounding step is deterministic and
    identical on both engines; the *decision* is exact integer):

    - components quantize to ``q_i = FLOOR(x_i * scale)`` as BIGINT
      (float->double cast is exact; one double multiply, one floor);
    - the mean-threshold ``x_i > mean`` becomes the denominator-cleared
      integer inequality ``q_i * n > sum(q)`` — no division, no double
      compare, so a component equal to the mean bit-agrees everywhere;
    - the 64-bit hash is emitted as two 32-bit halves (``phash_hi``
      bits 32..63, ``phash_lo`` bits 0..31) so neither engine touches
      the BIGINT sign bit (DuckDB raises on ``1::BIGINT << 63``);
    - the hash is over the FIRST 64 components (``slice`` before
      quantize, threshold sum included) — a 64-bit hash cannot carry
      more, and slicing on both sides keeps the engine/oracle contract
      dimension-independent instead of silently diverging past dim 64.

    Map-only (no shuffle): at 100 TB this runs as a projection inside
    the scan stage, one pass over the vector column.  Output:
    (id, phash_hi, phash_lo, nbits), nbits = popcount of the full hash.
    """
    qs = (
        f"transform(slice({vec_col}, 1, 64), "
        f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    half = (
        "aggregate(zip_with(__q, sequence(0, size(__q) - 1), "
        "(q, i) -> IF(i >= {lo} AND i < {hi} "
        "AND q * size(__q) > __s, "
        "shiftleft(1L, CAST(i - {lo} AS INT)), 0L)), "
        "0L, (a, b) -> a + b)"
    )
    return (
        vectors.select(
            F.col(id_col).alias("id"), F.expr(qs).alias("__q")
        )
        .withColumn(
            "__s", F.expr("aggregate(__q, 0L, (a, b) -> a + b)")
        )
        .select(
            "id",
            F.expr(half.format(lo=32, hi=64)).alias("phash_hi"),
            F.expr(half.format(lo=0, hi=32)).alias("phash_lo"),
        )
        .withColumn(
            "nbits",
            F.bit_count("phash_hi") + F.bit_count("phash_lo"),
        )
    )
