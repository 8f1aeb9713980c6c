"""Multimodal queries — real-pixel media dedup over synthesized PNGs.

The multimodal layer's plumbing has always been tested
(``tests/test_sources_multimodal.py``); this module puts the REAL
codec path under the DRIVER's differential check as well: PNG images
are synthesized deterministically from the documents table (vendored
``functions/png.py`` encoder inside an Arrow-batched stage), decoded
back to pixels by the same codec tier, average-hashed, and
near-dup-joined — so a driver-green row certifies the whole
pixels-in/pixels-out loop, not just schema plumbing.

Reference scope: net-new (the reference is relational-only); the
operators generalize its consolidation queries (person-users.js) to
media identity.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import functions as F
from pyspark.sql import types as T

from beehive_spark.queries import load, query

_IMG_W = _IMG_H = 16

_PNG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synth_png_media(docs, dup_every: int = 5, dup_offset: int = 1_000_000):
    """Deterministic PNG corpus from (doc_id, text): each doc renders
    a 16x16 RGB pattern tiled from md5(doc_id || text) — unique per
    doc even if texts repeat — and every ``dup_every``-th doc is
    planted again VERBATIM under ``doc_id + dup_offset``, giving
    ground-truth duplicate pairs with byte-identical payloads.

    Synthesis runs in an Arrow-batched mapInPandas stage (the same
    shape a real render/transcode stage has); the encoder is the
    vendored pure-Python PNG writer, so the downstream decode
    exercises a real compressed format, not raw bytes."""
    import numpy as np
    import pandas as pd

    from beehive_spark.functions.png import encode_png

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                seed = hashlib.md5(f"{doc_id}|{text}".encode()).digest()
                # full-entropy 2D noise from a seeded PRNG — a tiled
                # digest would repeat with the row stride and collapse
                # the ahash to a few effective bits (measured: 1.6k
                # chance pairs at 500 docs)
                rng = np.random.default_rng(int.from_bytes(seed[:8], "big"))
                px = rng.integers(
                    0, 256, size=(_IMG_H, _IMG_W, 3), dtype=np.uint8
                )
                png = encode_png(px)
                ids.append(int(doc_id))
                payloads.append(png)
                if doc_id % dup_every == 0:
                    ids.append(int(doc_id) + dup_offset)
                    payloads.append(png)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id", "text").mapInPandas(render, schema=_PNG_SCHEMA)


@query(
    "media_phash_dedup",
    oracle="""
    SELECT doc_id AS id_i,
           doc_id + 1000000 AS id_j,
           0 AS hamming
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY id_i
    """,
)
def media_phash_dedup(spark, sf_dir):
    """Real-pixel media near-dup detection, driver-hash-checked end to
    end: synthesize a PNG per document (+ byte-identical planted
    copies of every 5th), decode with the REAL codec tier
    (``use_real_decoder=True`` — vendored PNG codec in this container,
    Pillow elsewhere), average-hash the pixels, and pair via the
    4-block pigeonhole LSH join (``phash_dedup``, hamming <= 3).

    The oracle is exact because the planted copies are byte-identical
    (decode -> luma -> ahash is deterministic, so hamming is exactly
    0) while distinct docs' patterns are md5-tiled noise whose ahash
    pairs sit ~32 bits apart — the probability of a chance <=3-bit
    pair among 500 docs is ~1e-9.  A wrong decode, a non-deterministic
    hash, or a broken LSH join all break the hash match.

    Scale shape: synthesis and hashing are Arrow-batched map stages
    (payloads never shuffle); the dedup join shuffles 8-byte hashes on
    (block, value) keys — `functions/multimodal.py:phash_dedup`."""
    from beehive_spark.functions.multimodal import (
        perceptual_hash,
        phash_dedup,
        wrap_as_media,
    )

    docs = load(spark, sf_dir, "documents")
    media = wrap_as_media(
        synth_png_media(docs), "media_id", "payload", modality="image"
    )
    # byte-budget estimate: a 16x16 RGB noise PNG is incompressible
    # (~0.9 KB with container overhead) and every 5th doc plants a
    # copy; an estimate is all the partition-count heuristic needs,
    # and it spares the sizing pass from re-running the synthesis
    # stage (review finding)
    n_docs = docs.count()
    hashes = perceptual_hash(
        media, use_real_decoder=True, total_bytes=n_docs * 6 // 5 * 900
    )
    return (
        phash_dedup(hashes, max_hamming=3)
        .select(
            F.col("id_i").cast("long").alias("id_i"),
            F.col("id_j").cast("long").alias("id_j"),
            F.col("hamming").cast("int").alias("hamming"),
        )
        .orderBy("id_i")
    )


_WAV_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synth_wav_media(docs):
    """Deterministic WAV corpus from doc ids: each doc renders a mono
    16 kHz square wave whose frame count and amplitude are pure
    arithmetic in doc_id — so every acoustic feature of the synthesized
    signal is predictable in closed form, which is what lets the
    downstream feature query carry an EXACT SQL oracle.  Encoding runs
    through the real stdlib WAV container writer inside an
    Arrow-batched stage (the same shape a real transcode stage has)."""
    import pandas as pd

    from beehive_spark.functions.audio import encode_wav

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        # one max-length square wave, sliced and scaled per doc — the
        # per-sample Python loop was the stage's whole cost (the
        # media_audio_vad r9 attribution; bytes identical)
        n_max = 800 + 99 * 16
        base = np.where((np.arange(n_max) // 8) % 2 == 0, 1, -1).astype(
            np.int64
        )
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                n = 800 + (int(doc_id) % 100) * 16
                a = 1000 + (int(doc_id) % 50) * 100
                ids.append(int(doc_id))
                payloads.append(encode_wav(base[:n] * a, rate=16000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_WAV_SCHEMA)


@query(
    "media_audio_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(800 + (doc_id % 100) * 16 AS BIGINT) AS n_frames,
           CAST((800 + (doc_id % 100) * 16) / 16 AS BIGINT) AS duration_ms,
           CAST(1000 + (doc_id % 50) * 100 AS BIGINT) AS peak,
           CAST(1000 + (doc_id % 50) * 100 AS DOUBLE) AS rms,
           CAST((800 + (doc_id % 100) * 16) / 8 - 1 AS BIGINT)
             AS zero_crossings
    FROM documents
    """,
)
def media_audio_features(spark, sf_dir):
    """Real-codec audio feature extraction, driver-hash-checked end to
    end: synthesize a PCM WAV per document (square wave; stdlib
    ``wave`` writer), decode it back through the same stdlib codec
    (``functions/audio.py``), and emit frame count, duration, peak,
    RMS and zero crossings — every one of which has a CLOSED-FORM
    value for a square wave (RMS == amplitude, crossings == blocks-1),
    so the oracle is exact arithmetic over doc_id and any decode or
    feature bug breaks the hash.

    The audio sibling of ``media_phash_dedup``: together they put both
    non-text modalities' real decode paths under the driver's
    differential gate.  Scale shape: two Arrow-batched map stages
    (synthesize, featurize) with byte-budget repartitioning; payloads
    never shuffle."""
    from beehive_spark.functions.audio import extract_audio_features

    docs = load(spark, sf_dir, "documents")
    # byte-budget hint in closed form (44-byte WAV header + 2 bytes per
    # sample, sample count arithmetic in doc_id) from a one-column JVM
    # aggregate — without it the sizing pass would re-run the synthesis
    # stage and every corpus WAV would be rendered twice (review
    # finding)
    hint = docs.agg(
        F.sum(
            F.lit(44) + (F.lit(800) + F.pmod("doc_id", F.lit(100)) * 16) * 2
        ).alias("b")
    ).first()["b"]
    return extract_audio_features(
        synth_wav_media(docs), total_bytes=int(hint or 0)
    )


_FRAME_N = 6          # frames per synthesized video
_FRAME_EVERY_MS = 1000
_FRAME_MAX = 3


def synth_video_media(docs):
    """Deterministic multi-frame corpus: each doc becomes a 6-frame
    MPNG container whose frame f is a SOLID-COLOR PNG with value
    ``(doc_id*7 + f*13) % 256`` — closed-form pixels, so frame-level
    statistics after a REAL decode are pure arithmetic in (doc_id,
    frame_idx) and the oracle can check them exactly."""
    import numpy as np
    import pandas as pd

    from beehive_spark.functions.multimodal import encode_mpng
    from beehive_spark.functions.png import encode_png

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # only 256 distinct solid frames exist; encoding each once and
        # reusing the bytes cuts the synthesis from |docs|*6 PNG
        # encodes to <= 256 (bytes identical — PNG encoding is a pure
        # function of the pixels)
        png_cache: dict[int, bytes] = {}

        def solid(v: int) -> bytes:
            if v not in png_cache:
                png_cache[v] = encode_png(np.full((8, 8, 3), v, dtype=np.uint8))
            return png_cache[v]

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                frames = [
                    solid((int(doc_id) * 7 + f * 13) % 256)
                    for f in range(_FRAME_N)
                ]
                ids.append(int(doc_id))
                payloads.append(encode_mpng(frames))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_PNG_SCHEMA)


@query(
    "media_video_frames",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(f AS INT) AS frame_idx,
           CAST(f * 1000 AS BIGINT) AS ts_ms,
           CAST(192 AS BIGINT) AS frame_bytes,
           -- sampled time f*1000ms maps to source frame
           -- round(ts*(6-1)/2500) = f*2 of the 6-frame container
           ROUND(CAST((doc_id * 7 + (f * 2) * 13) % 256 AS DOUBLE), 2)
             AS mean_luma
    FROM documents, unnest(range(0, 3)) t(f)
    """,
)
def media_video_frames(spark, sf_dir):
    """Real frame sampling + decode under the driver's hash gate — the
    video leg of the modality triple (images: ``media_phash_dedup``,
    audio: ``media_audio_features``): synthesize a 6-frame MPNG per
    document (solid-color PNG frames, closed-form pixel values),
    sample 3 frames at a 1s stride with ``use_real_decoder=True`` (the
    container parses, every sampled TIME maps to its nearest source
    frame — 1000ms lands on container frame 2 of the 500ms-interval
    sequence — and that frame REALLY decodes through the PNG tier),
    and emit each frame's byte length and mean luma — which for a
    solid frame equals its color value exactly, so the oracle is
    arithmetic in (doc_id, frame_idx) INCLUDING the time-to-frame
    mapping: a sampler that confused sample index with frame index
    would hash-mismatch (it did; review finding).

    Scale shape: one Arrow-batched synthesis stage, one flatMap-shaped
    sampling stage (bounded fan-out), one JVM aggregate-free
    projection; frame payloads never shuffle (luma reduces each frame
    to one double before any exchange)."""
    from beehive_spark.functions.multimodal import sample_frames, wrap_as_media

    docs = load(spark, sf_dir, "documents")
    media = wrap_as_media(
        synth_video_media(docs), "media_id", "payload", modality="video"
    )
    media = media.withColumn(
        "meta",
        F.col("meta").withField(
            "duration_ms", F.lit((_FRAME_N - 1) * 500).cast("long")
        ),
    )
    frames = sample_frames(
        media,
        every_ms=_FRAME_EVERY_MS,
        max_frames=_FRAME_MAX,
        use_real_decoder=True,
    )
    # per-pixel ITU-R 601 luma summed in the SAME Arrow tier the frame
    # was decoded in (guide §4.2: the former per-pixel
    # conv(substring(hex)) HOF fold evaluated interpreted — ~3 s of
    # the query at sf0.1 for 15k tiny frames).  Bit-exact with that
    # fold: each pixel's term is x*0.299 + y*0.587 + z*0.114 with the
    # same left association, and the per-frame sum accumulates
    # SEQUENTIALLY (np.cumsum is a running left fold) — never
    # np.sum's pairwise summation.  The mean's division and the
    # HALF_UP round stay in JVM expressions, identical to before.
    def luma_sums(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            frames_col = b.column(3)
            sums = np.empty(n, dtype=np.float64)
            for i in range(n):
                buf = frames_col[i].as_py()
                px = np.frombuffer(buf, dtype=np.uint8).astype(np.float64)
                px = px.reshape(-1, 3)
                terms = px[:, 0] * 0.299 + px[:, 1] * 0.587 + px[:, 2] * 0.114
                sums[i] = np.cumsum(terms)[-1] if len(terms) else 0.0
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    b.column(1),
                    b.column(2),
                    pa.array(
                        [len(frames_col[i].as_py() or b"") for i in range(n)],
                        pa.int64(),
                    ),
                    pa.array(sums, pa.float64()),
                ],
                names=[
                    "media_id",
                    "frame_idx",
                    "ts_ms",
                    "frame_bytes",
                    "luma_sum",
                ],
            )

    lumas = frames.mapInArrow(
        luma_sums,
        "media_id bigint, frame_idx int, ts_ms bigint, "
        "frame_bytes bigint, luma_sum double",
    )
    return lumas.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        "frame_bytes",
        F.round(
            F.col("luma_sum") / (F.col("frame_bytes") / 3), 2
        ).alias("mean_luma"),
    )


def synth_gradient_png_media(docs):
    """Deterministic gradient-PNG corpus: pixel (y, x) of doc d holds
    ``(d + y*16 + x) % 256`` in all three channels — closed-form
    pixels, so any resample of the image is pure arithmetic in
    (doc_id, target cell) and the resize query below can carry an
    EXACT SQL oracle.  The row-to-row delta structure also exercises
    the PNG filter reconstruction paths harder than solid frames."""
    import numpy as np
    import pandas as pd

    from beehive_spark.functions.png import encode_png

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                base = np.arange(_IMG_H * _IMG_W, dtype=np.int64).reshape(
                    _IMG_H, _IMG_W
                )
                gray = ((int(doc_id) + base) % 256).astype(np.uint8)
                px = np.repeat(gray[:, :, None], 3, axis=2)
                ids.append(int(doc_id))
                payloads.append(encode_png(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_PNG_SCHEMA)


@query(
    "media_image_resize",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(cy AS INT) AS cy,
           CAST(cx AS INT) AS cx,
           -- nearest-neighbor 16->4 samples source pixel
           -- (cy*16 div 4, cx*16 div 4) = (cy*4, cx*4), whose value is
           -- (doc_id + (cy*4)*16 + cx*4) % 256
           CAST((doc_id + cy * 64 + cx * 4) % 256 AS INT) AS px_val,
           CAST(48 AS BIGINT) AS out_bytes
    FROM documents,
         unnest(range(0, 4)) a(cy),
         unnest(range(0, 4)) b(cx)
    """,
)
def media_image_resize(spark, sf_dir):
    """Real decode -> resize under the driver's hash gate — the
    RESAMPLE leg of the multimodal suite (decode: ``media_phash_dedup``,
    frame-sample: ``media_video_frames``): synthesize a 16x16 gradient
    PNG per document (closed-form pixels), push it through the REAL
    codec + nearest-neighbor resample tier
    (``functions/multimodal.resize_images`` with
    ``use_real_decoder=True`` — vendored PNG codec here, Pillow
    elsewhere; the resample itself is backend-independent numpy), and
    emit every output pixel as a (cell, value) row.  The oracle is
    exact arithmetic in (doc_id, cy, cx) INCLUDING the source-index
    mapping ``ys = (arange(4)*16) div 4`` — a bicubic resample, an
    off-by-one in the index map, a channel mixup, or a filter-
    reconstruction bug in the decoder all break the hash.

    Scale shape: synthesis and resize are Arrow-batched map stages
    with byte-budget repartitioning (payloads never shuffle); the
    per-cell explode is a JVM projection over 48-byte outputs, and
    output volume is docs x 16 rows regardless of source image size."""
    from beehive_spark.functions.multimodal import resize_images, wrap_as_media

    docs = load(spark, sf_dir, "documents")
    media = wrap_as_media(
        synth_gradient_png_media(docs), "media_id", "payload", modality="image"
    )
    # byte-budget hint: a 16x16 gradient PNG rides ZIP delta filters
    # well (~200-400 B incl. container overhead); an estimate is all
    # the partition heuristic needs and it spares a sizing pass that
    # would re-run the synthesis stage
    n_docs = docs.count()
    small = resize_images(
        media, 4, 4, use_real_decoder=True, total_bytes=n_docs * 400
    )
    # one row per output cell: value read positionally from the raw
    # RGB bytes (channel 0 of pixel cy*4+cx), all JVM.
    # NOTE (r12, measured and rejected): an Arrow re-expression of
    # this projection (one mapInArrow slicing the same bytes from the
    # binary buffers — history/plans/r12/media_image_resize_{before,after}.txt,
    # oracle green) LOST the quiet-host interleaved best-of-3 A/B:
    # 1.50-1.88 s for this conv shape vs 1.96-4.98 s with the extra
    # Python stage.  The 16 x docs interpreted convs are ~ms of JVM
    # work; a third Python stage's round-trip overhead exceeds it at
    # any corpus size where the 48-byte outputs stay this small.
    cells = small.select(
        "media_id",
        F.length("content").cast("long").alias("out_bytes"),
        F.hex("content").alias("hx"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("cell"),
    )
    return cells.select(
        "media_id",
        (F.col("cell") / 4).cast("int").alias("cy"),
        F.pmod("cell", F.lit(4)).cast("int").alias("cx"),
        F.conv(F.substring("hx", F.col("cell") * 6 + 1, F.lit(2)), 16, 10)
        .cast("int")
        .alias("px_val"),
        "out_bytes",
    )


# ---------------------------------------------------------------------------
# Typed metadata harvest — EXIF-style TLV headers parsed out of binary media
# ---------------------------------------------------------------------------

_EXIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
    ]
)

_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("camera", T.StringType()),
        T.StructField("iso", T.IntegerType()),
    ]
)


def synth_exif_media(docs):
    """Deterministic binary corpus with an EXIF-style header: magic
    ``EXF0``, then big-endian TLV entries (tag u8, len u16, value) —
    width(1)/height(2) u16, camera(3) utf-8, iso(4) u16, one UNKNOWN
    tag (9) the parser must skip, END(0) — followed by md5-derived
    "pixel payload" noise the parser must NOT read past the header.
    Field values are closed-form arithmetic in doc_id, which is what
    makes the downstream aggregate oracle-able as pure SQL."""
    import struct

    import pandas as pd

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 640 + (d % 5) * 160
                h = 480 + (d % 3) * 120
                cam = f"cam{d % 7}".encode()
                iso = 100 * (1 + d % 4)
                tlv = b"".join(
                    [
                        struct.pack(">BH", 1, 2), struct.pack(">H", w),
                        struct.pack(">BH", 2, 2), struct.pack(">H", h),
                        struct.pack(">BH", 3, len(cam)), cam,
                        # unknown tag the parser must length-skip
                        struct.pack(">BH", 9, 3), b"\x00\x01\x02",
                        struct.pack(">BH", 4, 2), struct.pack(">H", iso),
                        struct.pack(">BH", 0, 0),
                    ]
                )
                noise = hashlib.md5(f"exif|{d}".encode()).digest() * 4
                ids.append(d)
                payloads.append(b"EXF0" + tlv + noise)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_EXIF_SCHEMA)


def parse_exif_headers(media, id_col: str = "media_id", payload_col: str = "payload"):
    """Walk the TLV header of each payload into typed metadata columns
    (the harvest seam a real EXIF/XMP extractor plugs into): validate
    magic, iterate tag/len/value entries until END, length-skip
    unknown tags, NULL out fields on any malformed header instead of
    failing the batch.  Arrow-batched mapInPandas — payloads stay in
    their scan partitions, only the ~30-byte typed rows move on."""
    import struct

    import pandas as pd

    def parse_one(buf):
        try:
            if bytes(buf[:4]) != b"EXF0":
                return None
            off, out = 4, {}
            while off + 3 <= len(buf):
                tag, ln = struct.unpack_from(">BH", buf, off)
                off += 3
                if tag == 0:
                    return out
                val = bytes(buf[off : off + ln])
                if len(val) != ln:
                    return None  # truncated header
                off += ln
                if tag == 1:
                    out["width"] = struct.unpack(">H", val)[0]
                elif tag == 2:
                    out["height"] = struct.unpack(">H", val)[0]
                elif tag == 3:
                    out["camera"] = val.decode("utf-8", "replace")
                elif tag == 4:
                    out["iso"] = struct.unpack(">H", val)[0]
                # unknown tags: skipped by length
            return None  # ran off the end without END tag
        except Exception:
            return None

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                meta = parse_one(payload) or {}
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": meta.get("width"),
                        "height": meta.get("height"),
                        "camera": meta.get("camera"),
                        "iso": meta.get("iso"),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "camera", "iso"],
            )

    return media.mapInPandas(parse, schema=_META_SCHEMA)


@query(
    "media_exif_harvest",
    oracle="""
    SELECT 'cam' || CAST(doc_id % 7 AS VARCHAR) AS camera,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(CAST((640 + doc_id % 5 * 160)
                         * (480 + doc_id % 3 * 120) AS BIGINT))
                AS BIGINT) AS total_pixels,
           CAST(MAX(100 * (1 + doc_id % 4)) AS INTEGER) AS max_iso,
           CAST(COUNT(DISTINCT 640 + doc_id % 5 * 160) AS BIGINT)
             AS n_widths
    FROM documents
    GROUP BY camera
    """,
)
def media_exif_harvest(spark, sf_dir):
    """Typed-metadata harvest from binary media columns, driver-hash-
    checked end to end: synthesize an EXIF-style binary header per
    document (magic + big-endian TLV entries + trailing payload
    noise), parse it back with a REAL byte-walking TLV decoder
    (``parse_exif_headers`` — validates magic, length-skips an unknown
    tag planted in every header, stops at END without touching the
    payload bytes), then roll the typed columns up per camera.  The
    oracle is exact because every field is closed-form arithmetic in
    doc_id — an endianness slip, a wrong skip length, or reading past
    END all break the hash.

    Scale shape: synthesis and parsing are chained Arrow map stages in
    ONE task pipeline — payload bytes never shuffle; only the ~30-byte
    typed rows reach the aggregate (map-side combined, |cameras| rows
    out).  This is the plumbing a Pillow/exiftool extractor drops
    into unchanged (same seam as the codec tier's
    ``use_real_decoder``)."""
    docs = load(spark, sf_dir, "documents")
    meta = parse_exif_headers(synth_exif_media(docs))
    return meta.groupBy("camera").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(
            F.col("width").cast("long") * F.col("height").cast("long")
        ).alias("total_pixels"),
        F.max("iso").alias("max_iso"),
        F.countDistinct("width").alias("n_widths"),
    )


# ---------------------------------------------------------------------------
# Scene-cut detection over decoded video frames
# ---------------------------------------------------------------------------
_SC_FRAMES = 8        # frames per synthesized scene video
_SC_EVERY_MS = 500    # sampling stride == container frame interval
_SC_THRESH = 16       # |delta| >= thresh -> cut (planted: 1 vs >= 70)


def synth_scene_video_media(docs):
    """Deterministic SCENE corpus: each doc becomes an 8-frame MPNG
    whose frame f is a solid PNG with value
    ``1 + (doc_id*53 + s*71) % 254 + (f % 2)`` where the scene index
    ``s`` steps at two planted cut positions — ``2 + doc_id % 3`` and
    ``6``.  Within a scene consecutive frames differ by exactly 1 (the
    parity jitter keeps the detector honest: zero-delta would make
    'nonzero' a trivial cut test); across a cut they differ by
    ``|±71 mod 254| ± 1`` — always in {70, 72, 182, 184}, far above
    the threshold — so the detected cut set is closed-form in doc_id
    and the oracle can check frame positions AND deltas exactly."""
    import numpy as np
    import pandas as pd

    from beehive_spark.functions.multimodal import encode_mpng
    from beehive_spark.functions.png import encode_png

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # <= 255 distinct solid frames exist (v in 1..255); encode each
        # once per task instead of |docs| * 8 times (the
        # synth_video_media memoization — bytes identical)
        png_cache: dict[int, bytes] = {}

        def solid(v: int) -> bytes:
            if v not in png_cache:
                png_cache[v] = encode_png(
                    np.full((8, 8, 3), v, dtype=np.uint8)
                )
            return png_cache[v]

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                c1 = 2 + d % 3
                frames = []
                for f in range(_SC_FRAMES):
                    s = (1 if f >= c1 else 0) + (1 if f >= 6 else 0)
                    frames.append(solid(1 + (d * 53 + s * 71) % 254 + (f % 2)))
                ids.append(d)
                payloads.append(encode_mpng(frames))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_PNG_SCHEMA)


@query(
    "media_scene_cuts",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(CASE WHEN c = 0 THEN 2 + doc_id % 3 ELSE 6 END AS INT)
             AS cut_frame,
           CAST(abs(
             ((doc_id*53 + (c+1)*71) % 254
               + (CASE WHEN c = 0 THEN 2 + doc_id % 3 ELSE 6 END) % 2)
             - ((doc_id*53 + c*71) % 254
               + (CASE WHEN c = 0 THEN 2 + doc_id % 3 ELSE 6 END - 1) % 2)
           ) AS BIGINT) AS delta_luma
    FROM documents, unnest(range(0, 2)) t(c)
    """,
)
def media_scene_cuts(spark, sf_dir):
    """Scene-cut detection — the temporal-segmentation leg of the
    video pipeline (frame sampling: ``media_video_frames``): decode
    every frame of a synthesized 8-frame scene video (two planted
    cuts per doc, closed-form colors), reduce each frame to its EXACT
    integer mean byte value (numpy sum inside the Arrow decode stage,
    linear in frame bytes; solid frames make the mean the color
    itself, integer-division-exact), and flag a cut wherever the
    frame-over-frame absolute delta reaches the threshold.  Planted
    intra-scene deltas are exactly 1 and cut deltas at least 70, so
    the detected (position, delta) set is pure arithmetic in doc_id —
    a sampler off by one frame, a biased mean, or a sign slip in the
    lag all break the hash.

    Scale shape: synthesis and decode are chained Arrow map stages in
    one task pipeline; each frame reduces to ONE long before anything
    shuffles, so the only exchange is the per-media lag window —
    partitioned by media_id (bounded frames per media; a 100 TB video
    corpus shuffles |frames| 16-byte rows, never pixels).

    Reference scope: net-new (the reference is relational-only);
    real detectors (ffmpeg scene filter, TransNet) drop into the same
    decode seam."""
    from pyspark.sql import Window

    from beehive_spark.functions.multimodal import sample_frames, wrap_as_media

    docs = load(spark, sf_dir, "documents")
    media = wrap_as_media(
        synth_scene_video_media(docs), "media_id", "payload", modality="video"
    )
    media = media.withColumn(
        "meta",
        F.col("meta").withField(
            "duration_ms", F.lit((_SC_FRAMES - 1) * _SC_EVERY_MS).cast("long")
        ),
    )
    frames = sample_frames(
        media,
        every_ms=_SC_EVERY_MS,
        max_frames=_SC_FRAMES,
        use_real_decoder=True,
    )
    # exact integer frame value: mean byte (sum // count) computed with
    # numpy INSIDE the Arrow stage, linear in frame bytes — a JVM
    # hex-walk HOF here re-evaluates hex(frame) per element, O(bytes^2)
    # per frame, which collapses at real frame sizes (r6 review); for a
    # solid gray frame the integer mean IS the planted color
    import pandas as pd

    def reduce_frames(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            ids, idxs, vs = [], [], []
            for media_id, frame_idx, frame in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame"]
            ):
                buf = np.frombuffer(bytes(frame), dtype=np.uint8)
                ids.append(media_id)
                idxs.append(int(frame_idx))
                vs.append(int(buf.sum(dtype=np.int64)) // len(buf))
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "v": vs})

    vals = frames.select("media_id", "frame_idx", "frame").mapInPandas(
        reduce_frames, schema="media_id long, frame_idx int, v long"
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    deltas = vals.withColumn(
        "delta_luma", F.abs(F.col("v") - F.lag("v").over(w))
    )
    return deltas.filter(F.col("delta_luma") >= _SC_THRESH).select(
        "media_id",
        F.col("frame_idx").cast("int").alias("cut_frame"),
        F.col("delta_luma").cast("long"),
    )


# ---------------------------------------------------------------------------
# Audio activity segmentation (VAD-style) over decoded WAV windows
# ---------------------------------------------------------------------------
_VAD_WINDOWS = 12     # analysis windows per synthesized clip
_VAD_WIN = 80         # samples per window (5 ms at 16 kHz)
_VAD_THRESH = 500     # mean-abs >= thresh -> active (planted: 0 vs >= 1000)


def synth_vad_wav_media(docs):
    """Deterministic activity-pattern WAV corpus: each doc is 12
    windows of 80 samples; two planted ACTIVE runs — windows
    ``[1 + d%3, +2 + d%2)`` and ``[8, +2 + d%3)`` — carry a ±A square
    wave with ``A = 1000 + (d%50)*100``, everything else is digital
    silence.  Mean absolute amplitude is therefore EXACTLY A inside an
    active window and 0 outside, so the merged segment list (start,
    length, level) is closed-form arithmetic in doc_id."""
    import pandas as pd

    from beehive_spark.functions.audio import encode_wav

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        # one square-wave period, reused for every active window
        # (synthesis was the whole stress story for this query: the
        # per-sample Python loop was ~75% of wall-clock at 1x and 10x;
        # vectorized it renders identical bytes ~8x faster)
        sq = np.where((np.arange(_VAD_WIN) // 8) % 2 == 0, 1, -1).astype(
            np.int64
        )
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                a1, l1 = 1 + d % 3, 2 + d % 2
                l2 = 2 + d % 3
                amp = 1000 + (d % 50) * 100
                win = np.zeros((_VAD_WINDOWS, _VAD_WIN), dtype=np.int64)
                win[a1:a1 + l1] = sq * amp
                win[8:8 + l2] = sq * amp
                ids.append(d)
                payloads.append(encode_wav(win.ravel(), rate=16000))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_WAV_SCHEMA)


@query(
    "media_audio_vad",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(s + 1 AS INT) AS seg_idx,
           CAST(CASE WHEN s = 0 THEN 1 + doc_id % 3 ELSE 8 END AS INT)
             AS start_window,
           CAST(CASE WHEN s = 0 THEN 2 + doc_id % 2 ELSE 2 + doc_id % 3 END
                AS BIGINT) AS n_windows,
           CAST(1000 + (doc_id % 50) * 100 AS BIGINT) AS mean_amp
    FROM documents, unnest(range(0, 2)) t(s)
    """,
)
def media_audio_vad(spark, sf_dir):
    """Voice-activity-style segmentation — the temporal-segmentation
    leg of the audio pipeline (features: ``media_audio_features``;
    the audio twin of ``media_scene_cuts``): decode each synthesized
    clip through the real stdlib WAV codec, reduce every 80-sample
    window to its integer absolute-amplitude sum INSIDE the Arrow
    batch, threshold on the exact integer mean, and merge consecutive
    active windows into segments with the gaps-and-islands pattern
    (window_idx - row_number island key).  The planted corpus
    separates 0 from >= 1000 at a threshold of 500, and every
    segment's (start, length, level) is closed-form in doc_id — an
    off-by-one in windowing, a biased mean, or a broken merge all
    break the hash.

    Scale shape: synthesis and decode+window-reduce are chained Arrow
    map stages — payloads never shuffle, each clip leaves the codec
    stage as 12 (media_id, window, sum) longs; the island merge and
    segment ranking are per-media windows over that bounded frame.
    A real VAD (webrtcvad, silero) drops into the same seam."""
    from pyspark.sql import Window

    import pandas as pd

    from beehive_spark.functions.audio import decode_wav_np

    docs = load(spark, sf_dir, "documents")
    clips = synth_vad_wav_media(docs)

    def windows(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            ids, wins, sums = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                _rate, samples = decode_wav_np(bytes(payload))
                arr = np.abs(samples)
                n = len(arr) // _VAD_WIN
                per = arr[: n * _VAD_WIN].reshape(n, _VAD_WIN).sum(axis=1)
                ids.extend([media_id] * n)
                wins.extend(range(n))
                sums.extend(int(x) for x in per)
            yield pd.DataFrame(
                {"media_id": ids, "win": wins, "sum_abs": sums}
            )

    per_win = clips.mapInPandas(
        windows, schema="media_id long, win int, sum_abs long"
    )
    active = per_win.filter(
        F.call_function("div", F.col("sum_abs"), F.lit(_VAD_WIN).cast("long"))
        >= _VAD_THRESH
    )
    wo = Window.partitionBy("media_id").orderBy("win")
    islands = active.withColumn(
        "grp", F.col("win") - F.row_number().over(wo)
    )
    segs = islands.groupBy("media_id", "grp").agg(
        F.min("win").alias("start_window"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("sum_abs").alias("s"),
    )
    ws = Window.partitionBy("media_id").orderBy("start_window")
    return segs.select(
        "media_id",
        F.row_number().over(ws).alias("seg_idx"),
        F.col("start_window").cast("int"),
        "n_windows",
        F.call_function(
            "div", F.col("s"), F.col("n_windows") * _VAD_WIN
        ).alias("mean_amp"),
    )


# ---------------------------------------------------------------------------
# Cross-modal join: image luma x caption length (media frame x text frame)
# ---------------------------------------------------------------------------
def synth_solid_png_media(docs):
    """Deterministic solid-gray corpus: each doc renders ONE 16x16 RGB
    PNG whose every byte is ``(doc_id * 37) % 251`` — so the decoded
    exact integer mean byte IS that closed form, and any joint
    statistic of (decoded luma, text features) is pure SQL arithmetic
    over the documents table."""
    import numpy as np
    import pandas as pd

    from beehive_spark.functions.png import encode_png

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                px = np.full((_IMG_H, _IMG_W, 3), (d * 37) % 251, dtype=np.uint8)
                ids.append(d)
                payloads.append(encode_png(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(render, schema=_PNG_SCHEMA)


@query(
    "media_caption_luma",
    oracle="""
    SELECT CAST((doc_id*37 % 251) // 32 AS BIGINT) AS luma_bucket,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM((doc_id*37 % 251) * length(text)) AS BIGINT)
             AS luma_char_moment
    FROM documents
    GROUP BY 1, 2
    """,
)
def media_caption_luma(spark, sf_dir):
    """CROSS-MODAL join — the one LLM-pipeline shape the media suite
    had not yet demonstrated end to end (r6 verdict ask #7): the
    image frame (synthesize -> REAL decode -> exact integer mean luma
    via ``functions.multimodal.image_stats``) joins the text frame
    (caption length per doc) in ONE plan, then aggregates the joint
    statistic — doc counts, caption chars, and the luma x chars
    cross-moment — per (luma octile, source).  The planted solid-gray
    corpus makes decoded luma ``(doc_id*37) % 251`` exactly, so the
    whole joint table is closed-form SQL over documents and a wrong
    decode, a lossy mean, or a join misalignment all break the hash.

    Scale shape: payloads NEVER shuffle — each image collapses to two
    longs inside the Arrow decode stage before the join; the text side
    projects (doc_id, source, chars) before shuffling, so the
    equi-join moves ~24-byte rows per doc on both sides; the final
    agg is map-side combinable on 8 x |sources| keys.  At 100 TB this
    is the caption-filtering join every multimodal training pipeline
    runs (CLIP-style curation: pair image stats with text quality).

    Reference scope: net-new (the reference is relational-only); this
    extends its consolidation joins (person-users.js:83-150) across
    modality boundaries.
    """
    from beehive_spark.functions.multimodal import image_stats, wrap_as_media

    docs = load(spark, sf_dir, "documents")
    media = wrap_as_media(
        synth_solid_png_media(docs), "media_id", "payload", modality="image"
    )
    # solid 16x16 PNGs compress to ~100 bytes; an estimate spares the
    # sizing pass from re-running the synthesis stage
    n_docs = docs.count()
    stats = image_stats(media, use_real_decoder=True, total_bytes=n_docs * 150)
    text_side = docs.select(
        "doc_id", "source", F.length("text").cast("long").alias("chars")
    )
    j = stats.select(
        F.col("media_id").alias("doc_id"), "mean_byte"
    ).join(text_side, "doc_id")
    return j.groupBy(
        F.call_function("div", F.col("mean_byte"), F.lit(32).cast("long")).alias(
            "luma_bucket"
        ),
        "source",
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").alias("total_chars"),
        F.sum(F.col("mean_byte") * F.col("chars")).alias("luma_char_moment"),
    )
