"""Multimodal column plumbing (north star: image/audio/video at 100 TB).

Design: media travels as an opaque `binary` column plus a typed
metadata struct; all per-item compute (decode, feature extraction,
resize, frame sampling) runs in Arrow-batched Pandas functions via
`mapInPandas` — bytes never pass through row-at-a-time Python, and
each task processes a columnar batch.

Codec libraries (PIL/ffmpeg/torchvision) are NOT in this container.
Since round 6 the decode kernel is REAL anyway for every format
stdlib+numpy can handle — PNG (full chunk walk + all five unfilter
types), uncompressed BMP, PGM/PPM, PCM WAV, and since round 7
baseline JPEG — grayscale AND interleaved YCbCr color, 4:4:4/4:2:0
(Huffman + dequant + IDCT + chroma upsample in numpy;
functions/codecs.py) — plus RIFF-AVI video containers (MJPG and
uncompressed-DIB frames; parse_avi/decode_avi_frame), with
NotImplementedError only for variants that genuinely need a codec
library (progressive JPEG, MP4/H.264).
The deterministic fake (`fake=True`) remains for fixtures whose
payloads are text bytes rather than real media.

Scale notes: binary columns make parquet row groups large; keep
`spark.sql.files.maxPartitionBytes` at the default 128 MB so a task
holds only a handful of items, and repartition by a size-balanced key
before heavy kernels. Feature extraction is compute-bound: the
mapInPandas iterator shape lets one task pipeline decode batches
without materializing the partition.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("source", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture: text bytes as
    the opaque payload (the fixtures ship no real media; the schema
    and byte-handling are what's under test)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("media"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def decode_media(data: bytes, mime: str, fake: bool = False) -> np.ndarray:
    """Decode one media payload to an array.

    REAL for formats decodable with stdlib+numpy: PNG, BMP, PGM/PPM
    and baseline JPEG (grayscale + interleaved YCbCr color) images →
    float32 (H, W) grayscale; PCM WAV audio → float32 1-D samples
    (functions/codecs.py, pure python). Progressive JPEG and video
    still need codec libraries absent from this container — those
    raise NotImplementedError (JPEG dimensions ARE parseable via
    codecs.media_dimensions). `fake=True` keeps the deterministic
    16×16 byte-histogram stub for fixtures whose payloads are opaque
    text bytes rather than real media.
    """
    if fake:
        counts = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
        return counts.reshape(16, 16).astype(np.float32)
    from mpi_word_count_spark.functions import codecs

    kind = codecs.sniff_media(data)
    if kind == "wav":
        return codecs.decode_audio(data)
    if kind in ("png", "bmp", "pgm", "ppm", "jpeg", "gif", "tiff"):
        return codecs.decode_image(data)
    if kind == "avi":
        # single-array contract: a video decodes to its first frame
        # (same convention as animated GIF above), so perceptual-hash
        # near-dup detection covers video payloads; per-frame work
        # goes through sample_frames / video_frame_stats
        meta = codecs.parse_avi(data)
        if not meta["frames"]:
            raise ValueError("AVI has no video frames")
        return codecs.decode_avi_frame(meta["frames"][0], meta)
    raise NotImplementedError(
        f"no pure-python decoder for payload kind {kind!r} "
        "(MP4/H.264 decode requires ffmpeg, absent here)"
    )


def _decode_counters(media: DataFrame) -> dict[str, Any]:
    """Worker-updatable decoded/skipped accumulators, attached to every
    fake=False kernel's output as `df.decode_stats`. A systemically
    undecodable corpus (e.g. all-JPEG) otherwise returns an EMPTY
    result indistinguishable from 'no media' — the no-silent-caps rule
    demands the drop rate be observable. Values are populated once an
    action runs the kernel."""
    sc = media.sparkSession.sparkContext
    return {"decoded": sc.accumulator(0), "skipped": sc.accumulator(0)}


def _pool_feature(img: np.ndarray) -> np.ndarray:
    """Deterministic pooled feature with a FIXED dimension: row sums,
    nearest-neighbor resampled to exactly FEATURE_DIM bins (same index
    arithmetic as dhash_pixels / resize_stub). Raw truncation
    (`sums[:FEATURE_DIM]`) yielded ragged vectors for short images and
    length-1 for 1-D audio — fixed-dim is the contract any downstream
    cosine/k-means consumer needs, identical between the fake path
    (16×16 histogram → identity resample) and real decodes."""
    img = np.atleast_2d(img)  # audio decodes 1-D; pool a (1, N) view
    sums = img.sum(axis=1)
    n = len(sums)
    idx = (
        (np.arange(FEATURE_DIM, dtype=np.int64) * (n - 1)) // (FEATURE_DIM - 1)
        if n > 1
        else np.zeros(FEATURE_DIM, dtype=np.int64)
    )
    return sums[idx].astype(np.float32)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media → (media_id, n_bytes, feature: array<float>) via
    mapInPandas (Arrow batches, iterator form). The feature is always
    exactly FEATURE_DIM floats (see _pool_feature). With fake=False,
    undecodable payloads are SKIPPED per item — same crawl-robustness
    contract as phash_decoded_media — and counted in the returned
    DataFrame's `decode_stats` accumulators."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("feature", T.ArrayType(T.FloatType()), True),
        ]
    )
    counters = _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            feats: list[Any] = []
            nbytes: list[int] = []
            for mid, payload, meta in zip(pdf["media_id"], pdf["media"], pdf["meta"]):
                try:
                    img = decode_media(bytes(payload), meta["mime"], fake=fake)
                except (ValueError, NotImplementedError):
                    if fake:
                        raise  # the fake path decodes anything; never mask
                    counters["skipped"] += 1
                    continue
                counters["decoded"] += 1
                ids.append(int(mid))
                feats.append(_pool_feature(img))
                nbytes.append(len(payload))
            # dtype=object: an all-skipped batch otherwise yields a
            # float64 column Arrow cannot convert to list<float>
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "n_bytes": nbytes,
                    "feature": pd.Series(feats, dtype=object),
                }
            )

    out = media.mapInPandas(kernel, schema=out_schema)
    out.decode_stats = counters
    return out


PHASH_BITS = 64
PHASH_BANDS = 4
_BAND_BITS = PHASH_BITS // PHASH_BANDS  # 16


def dhash_pixels(img: "np.ndarray") -> "np.ndarray":
    """Classic difference-hash over a DECODED grayscale image: resize
    to 9×8 by integer nearest-neighbor (same index arithmetic as the
    byte-probe dHash below, so it is deterministic and
    library-independent), then bit (r,c) = px[r,c] > px[r,c+1].
    Returns the 64 bits as an int64 array — band-pack with the same
    (PHASH_BANDS, _BAND_BITS) scheme as phash_media.

    Round-6: with functions/codecs.py the decode is REAL for
    PNG/BMP/netpbm, so this kernel hashes actual pixels, not byte
    histograms — the standard dHash of Krawetz's "Kind of Like That"
    (public algorithm), not a library port."""
    h, w = img.shape
    if h == 0 or w == 0:
        return np.zeros(PHASH_BITS, dtype=np.int64)
    rows = (np.arange(8, dtype=np.int64) * (h - 1)) // 7 if h > 1 else np.zeros(8, np.int64)
    cols = (np.arange(9, dtype=np.int64) * (w - 1)) // 8 if w > 1 else np.zeros(9, np.int64)
    small = img[np.ix_(rows, cols)]
    return (small[:, :-1] > small[:, 1:]).astype(np.int64).reshape(PHASH_BITS)


def phash_decoded_media(media: DataFrame) -> DataFrame:
    """phash_media's REAL-decode twin: decode each payload with the
    pure-python codecs (PNG/BMP/netpbm), dHash the pixels, band-pack.
    Same output schema as phash_media, so phash_dups consumes either —
    the banded-join pairing is decode-agnostic. Payloads that no
    pure-python codec handles are SKIPPED (yielded without a row)
    rather than failed: a 100 TB media crawl always carries undecodable
    items, and dropping them must not kill the job. The drop rate is
    observable via the returned DataFrame's `decode_stats`
    accumulators (decoded/skipped) — an all-skipped corpus must not
    read as 'no duplicates'."""
    out_schema = T.StructType(
        [T.StructField("media_id", T.LongType(), False)]
        + [
            T.StructField(f"b{i}", T.IntegerType(), False)
            for i in range(PHASH_BANDS)
        ]
    )
    weights = 1 << np.arange(_BAND_BITS - 1, -1, -1, dtype=np.int64)
    counters = _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpi_word_count_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                try:
                    img = codecs.decode_image(bytes(payload))
                except (ValueError, NotImplementedError):
                    counters["skipped"] += 1
                    continue  # undecodable item: skip, never fail the task
                counters["decoded"] += 1
                bits = dhash_pixels(img)
                bands = bits.reshape(PHASH_BANDS, _BAND_BITS) @ weights
                rows.append([int(mid), *(int(b) for b in bands)])
            yield pd.DataFrame(
                rows, columns=["media_id"] + [f"b{i}" for i in range(PHASH_BANDS)]
            )

    out = media.select("media_id", "media").mapInPandas(kernel, schema=out_schema)
    out.decode_stats = counters
    return out


def phash_media(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over the raw media byte
    stream: resample each payload to PHASH_BITS+1 byte probes at
    linspace positions (the same nearest-neighbor resampling
    resize_stub uses), then bit i = probe[i] > probe[i+1]. Returns
    (media_id, b0..b3) — the 64-bit hash packed as PHASH_BANDS
    16-bit band integers, never as one 64-bit value (bit 63 would
    overflow signed BIGINT in either engine).

    Positional probing (not a byte histogram) is what makes the hash
    discriminative: histograms of same-vocabulary documents are
    near-proportional, so histogram-derived bits collapse to one
    bucket (measured: ALL pairs within Hamming 3 on the fixture);
    position-sampled dHash separates them (min nonzero distance 12).

    Bands are the LSH unit: Hamming ≤ PHASH_BANDS-1 implies at least
    one identical band (pigeonhole), so a band equi-join finds every
    pair within that radius with zero false negatives."""
    out_schema = T.StructType(
        [T.StructField("media_id", T.LongType(), False)]
        + [
            T.StructField(f"b{i}", T.IntegerType(), False)
            for i in range(PHASH_BANDS)
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                data = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(data) == 0:
                    bits = np.zeros(PHASH_BITS, dtype=np.int64)
                else:
                    # integer probe positions (i·(n-1)) // BITS — no
                    # float linspace, so the oracle's integer division
                    # is trivially bit-identical
                    idx = (
                        np.arange(PHASH_BITS + 1, dtype=np.int64) * (len(data) - 1)
                    ) // PHASH_BITS
                    probes = data[idx]
                    bits = (probes[:-1] > probes[1:]).astype(np.int64)
                # vectorized band packing: (4,16) bit matrix · weight
                # vector — no per-bit Python loop in the kernel
                bands = bits.reshape(PHASH_BANDS, _BAND_BITS) @ (
                    1 << np.arange(_BAND_BITS - 1, -1, -1, dtype=np.int64)
                )
                rows.append([mid, *(int(b) for b in bands)])
            yield pd.DataFrame(
                rows, columns=["media_id"] + [f"b{i}" for i in range(PHASH_BANDS)]
            )

    return media.select("media_id", "media").mapInPandas(kernel, schema=out_schema)


def phash_dups(phash: DataFrame, max_hamming: int = PHASH_BANDS - 1) -> DataFrame:
    """Near-duplicate media pairs within `max_hamming` bits, via the
    banded equi-join (never all-pairs): candidates share at least one
    exact 16-bit band — EXACT recall for max_hamming ≤ PHASH_BANDS-1
    by pigeonhole — then the true Hamming distance verifies each
    candidate with 4 xor/popcounts. Shuffle carries (band_idx,
    band_val) keys; the corpus is never self-joined unbucketed."""
    if max_hamming > PHASH_BANDS - 1:
        raise ValueError(
            f"banded join guarantees recall only to {PHASH_BANDS - 1} bits"
        )
    from mpi_word_count_spark.operators import track_cache
    from mpi_word_count_spark.operators.dedup import blocked_pairs

    # the hash table feeds the band explode AND both verify sides —
    # cache it (5 ints/row) so the Arrow kernel runs once, not 3x
    phash = track_cache(phash)
    bands = phash.select(
        "media_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"), F.col(f"b{i}").alias("band_val")
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("media_id", "band.band_idx", "band.band_val")
    cand = blocked_pairs(
        bands, "media_id", ("band_idx", "band_val"), ("media_id_1", "media_id_2")
    )
    h1 = phash.select(
        F.col("media_id").alias("media_id_1"),
        *[F.col(f"b{i}").alias(f"x{i}") for i in range(PHASH_BANDS)],
    )
    h2 = phash.select(
        F.col("media_id").alias("media_id_2"),
        *[F.col(f"b{i}").alias(f"y{i}") for i in range(PHASH_BANDS)],
    )
    hamming = sum(
        F.bit_count(F.col(f"x{i}").bitwiseXOR(F.col(f"y{i}")))
        for i in range(PHASH_BANDS)
    )
    return (
        cand.join(h1, "media_id_1")
        .join(h2, "media_id_2")
        .select(
            "media_id_1",
            "media_id_2",
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def resize_stub(media: DataFrame, height: int, width: int, fake: bool = True) -> DataFrame:
    """Resize kernel: decode → (fake) nearest-neighbor resample →
    re-encode as raw bytes. Demonstrates binary-in/binary-out batch
    shape; swap the body for a real codec at deployment. With
    fake=False, undecodable payloads are skipped per item (same
    contract as phash_decoded_media / extract_features) and counted in
    the returned DataFrame's `decode_stats` accumulators."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media", T.BinaryType(), True),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("width", T.IntegerType(), False),
        ]
    )
    counters = _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            out: list[bytes] = []
            for mid, payload, meta in zip(pdf["media_id"], pdf["media"], pdf["meta"]):
                try:
                    img = np.atleast_2d(
                        decode_media(bytes(payload), meta["mime"], fake=fake)
                    )
                except (ValueError, NotImplementedError):
                    if fake:
                        raise  # the fake path decodes anything; never mask
                    counters["skipped"] += 1
                    continue
                counters["decoded"] += 1
                ys = np.linspace(0, img.shape[0] - 1, height).astype(int)
                xs = np.linspace(0, img.shape[1] - 1, width).astype(int)
                ids.append(int(mid))
                out.append(img[np.ix_(ys, xs)].astype(np.float32).tobytes())
            # dtype=object: an all-skipped batch otherwise yields a
            # float64 column Arrow cannot convert to binary
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "media": pd.Series(out, dtype=object),
                    "height": height,
                    "width": width,
                }
            )

    result = media.mapInPandas(kernel, schema=out_schema)
    result.decode_stats = counters
    return result


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, stride: int = 4, fake: bool = True
) -> DataFrame:
    """Frame-sampling kernel: every stride-th frame becomes a row
    (media_id, frame_no, frame). Output explodes rows — exactly how
    real video frame extraction behaves — so downstream ops see
    per-frame granularity.

    fake=True chunks the raw byte stream into fixed-size pseudo-frames
    (for opaque text-byte fixtures). fake=False parses the payload as
    a REAL RIFF-AVI container (codecs.parse_avi) and emits the stored
    frame payloads (JPEG bytes for MJPG streams, raw DIB rows for
    uncompressed) — undecodable containers are skipped per-item with
    the decoded/skipped accumulators (a crawl must not kill the job).
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )
    counters = None if fake else _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpi_word_count_spark.functions import codecs

        for pdf in batches:
            ids, nos, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                data = bytes(payload)
                if fake:
                    chunks = [
                        data[i : i + frame_bytes]
                        for i in range(0, len(data), frame_bytes)
                    ]
                else:
                    try:
                        chunks = codecs.parse_avi(data)["frames"]
                        counters["decoded"] += 1
                    except (ValueError, NotImplementedError):
                        counters["skipped"] += 1
                        continue
                for no, chunk in enumerate(chunks[::stride]):
                    ids.append(mid)
                    nos.append(no)
                    frames.append(chunk)
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": nos, "frame": frames}
            )

    result = media.mapInPandas(kernel, schema=out_schema)
    if counters is not None:
        result.decode_stats = counters
    return result


def video_frame_stats(media: DataFrame, stride: int = 2) -> DataFrame:
    """REAL video path end-to-end in one Arrow kernel: parse each
    payload as a RIFF-AVI container (MJPG → baseline JPEG per frame;
    DIB → raw rows) or an animated GIF (full LZW + GCE disposal/
    transparency compositing), stride-sample its frames, decode, and
    emit per-frame pixel statistics. One mapInPandas pass — frames
    are never shipped twice, and per-task memory holds one decoded
    frame (plus, for GIF, one compositing canvas) at a time.
    Undecodable containers are skipped per-item (decoded/skipped
    accumulators), matching the other fake=False kernels' robustness
    contract."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("n_frames", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("px_sum", T.LongType(), False),
        ]
    )
    counters = _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpi_word_count_spark.functions import codecs

        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                data = bytes(payload)
                try:
                    if codecs.sniff_media(data) == "gif":
                        # GCE compositing needs every frame decoded;
                        # stride applies after composition
                        all_frames = codecs._decode_gif_frames(data)
                        n_frames = len(all_frames)
                        decoded = list(enumerate(all_frames[::stride]))
                    else:
                        # AVI frames are independent payloads: stride
                        # BEFORE decode — skipped frames cost nothing
                        meta = codecs.parse_avi(data)
                        n_frames = len(meta["frames"])
                        decoded = [
                            (no, codecs.decode_avi_frame(f, meta))
                            for no, f in enumerate(meta["frames"][::stride])
                        ]
                    counters["decoded"] += 1
                except (ValueError, NotImplementedError):
                    counters["skipped"] += 1
                    continue
                for no, px in decoded:
                    rows["media_id"].append(mid)
                    rows["frame_no"].append(no)
                    rows["n_frames"].append(n_frames)
                    rows["height"].append(px.shape[0])
                    rows["width"].append(px.shape[1])
                    # float64 accumulator; round so integral pixel
                    # grids (DIB) stay exact through the float path
                    rows["px_sum"].append(int(round(float(px.sum(dtype=np.float64)))))
            yield pd.DataFrame(rows)

    result = media.mapInPandas(kernel, schema=out_schema)
    result.decode_stats = counters
    return result
