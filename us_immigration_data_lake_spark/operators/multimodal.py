"""Multimodal column plumbing (SURVEY.md §2.10).

Images/audio/video ride as opaque ``binary`` columns with a typed
metadata struct; transforms run as Arrow-batched ``mapInPandas``
(the only place Python touches data in this engine — vectorized,
never row-at-a-time).

Codecs: P6 PPM, PNG and baseline-JPEG images, WAV/PCM audio, and
MJPEG-AVI video all decode for REAL (pure numpy/stdlib —
operators/codecs.py, operators/jpeg.py, operators/avi.py); remaining
formats (mp3, non-baseline JPEG, inter-frame-coded video)
raise NotImplementedError at the dispatch layer, and
``extract_features`` computes a deterministic fake feature vector
from raw bytes for them. Everything around the dispatch — schema,
batch iteration, partitioning, output shape — is identical either
way; swapping in a codec library is a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("media_type", StringType(), False),   # image|audio|video
    StructField("content", BinaryType(), True),       # opaque payload
    StructField("meta_format", StringType(), True),   # e.g. png, wav
    StructField("meta_width", LongType(), True),
    StructField("meta_height", LongType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("byte_len", LongType(), False),
    StructField("features", ArrayType(DoubleType()), False),
])


def text_as_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media table: utf-8 bytes of the text play the
    opaque payload (real pipelines read image bytes from object
    storage the same way — a binary column is a binary column)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.lit("fake").alias("meta_format"),
        F.lit(None).cast("long").alias("meta_width"),
        F.lit(None).cast("long").alias("meta_height"),
    )


def decode_image(content: bytes):
    """Decode an image payload to a uint8 pixel array, dispatching on
    the magic bytes. P6 PPM, PNG (operators/codecs.py), GIF
    (operators/gif.py) and baseline sequential JPEG
    (operators/jpeg.py) decode for real — pure
    numpy/stdlib; other formats (and non-baseline JPEG variants) fail
    loudly instead of faking pixels."""
    from us_immigration_data_lake_spark.operators import codecs

    if content[:2] == b"P6":
        return codecs.decode_ppm(content)
    if content.startswith(codecs.PNG_SIG):
        return codecs.decode_png(content)
    if content[:2] == b"\xff\xd8":
        from us_immigration_data_lake_spark.operators import jpeg

        return jpeg.decode_jpeg(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from us_immigration_data_lake_spark.operators import gif

        return gif.decode_gif(content)
    if content[:2] == b"BM":
        return codecs.decode_bmp(content)
    raise NotImplementedError(
        "no codec for this image format in this environment; "
        "P6 PPM, PNG, GIF, BMP and baseline-JPEG decode natively — for "
        "other formats swap in PIL.Image.open(io.BytesIO(content)) "
        "in production"
    )


def decode_audio(content: bytes):
    """Decode an audio payload to (sample_rate, int16 samples array).
    WAV/PCM decodes for real (stdlib wave + numpy); compressed formats
    raise until a codec library is swapped in."""
    from us_immigration_data_lake_spark.operators import codecs

    if content[:4] == b"RIFF":
        return codecs.decode_wav(content)
    raise NotImplementedError(
        "no codec for this audio format in this environment; "
        "WAV/PCM decodes natively — for mp3/flac swap in soundfile "
        "in production"
    )


RESIZED_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("content", BinaryType(), True),
    StructField("meta_width", LongType(), True),
    StructField("meta_height", LongType(), True),
])

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", LongType(), False),
    StructField("frame", BinaryType(), True),
])


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched resize over the binary column. Every format the
    engine decodes (P6 PPM, PNG, GIF, BMP, baseline JPEG) takes the
    REAL path: decode → nearest-neighbor resample (integer index
    arithmetic, bit-deterministic) → re-encode in the same container
    format — keeping the dispatch set identical to decode_image's, so
    a resized payload is always re-decodable. Other payloads keep
    the deterministic fake (truncate/pad to width*height bytes) so the
    batch iteration, schema, and metadata update stay exercised for
    formats whose codec isn't in this container."""
    from us_immigration_data_lake_spark.operators import codecs

    target = width * height

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob) if blob is not None else b""
                if b[:2] == b"P6":
                    pixels = codecs.decode_ppm(b)
                    resized = codecs.encode_ppm(
                        codecs.resize_nearest(pixels, width, height)
                    )
                elif b.startswith(codecs.PNG_SIG):
                    pixels = codecs.decode_png(b)
                    resized = codecs.encode_png(
                        codecs.resize_nearest(pixels, width, height)
                    )
                elif b[:2] == b"\xff\xd8":
                    from us_immigration_data_lake_spark.operators import jpeg

                    pixels = jpeg.decode_jpeg(b)
                    resized = jpeg.encode_jpeg(
                        codecs.resize_nearest(pixels, width, height)
                    )
                elif b[:6] in (b"GIF87a", b"GIF89a"):
                    from us_immigration_data_lake_spark.operators import gif

                    # nearest-neighbor keeps the palette closed (no new
                    # colors), so GIF re-encode always succeeds
                    pixels = gif.decode_gif(b)
                    resized = gif.encode_gif(
                        codecs.resize_nearest(pixels, width, height)
                    )
                elif b[:2] == b"BM":
                    pixels = codecs.decode_bmp(b)
                    resized = codecs.encode_bmp(
                        codecs.resize_nearest(pixels, width, height)
                    )
                else:
                    # shape-preserving fake for codec-less formats
                    resized = (b * (target // max(len(b), 1) + 1))[:target]
                rows.append((int(mid), resized, width, height))
            yield pd.DataFrame(
                rows, columns=["media_id", "content", "meta_width", "meta_height"]
            )

    # explicit projection: Spark cannot see which columns the Python
    # function touches, so an unprojected input ships (and scans)
    # every column across the Arrow boundary (guide-class insurance)
    return media.select("media_id", "content").mapInPandas(
        _batches, schema=RESIZED_SCHEMA
    )


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", LongType(), False),
    StructField("n_frames", LongType(), False),
    StructField("features", ArrayType(DoubleType()), False),
])


def audio_feature_table(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL audio feature extraction for WAV/PCM
    payloads: decode (stdlib wave + numpy) → duration / RMS /
    zero-crossing rate / peak + FFT spectral centroid / bandwidth /
    rolloff / flatness (operators/codecs.py:audio_features,
    spectral_features — 8 features total). Non-RIFF payloads raise —
    swap the decoder dispatch for a codec library to widen format
    support."""
    from us_immigration_data_lake_spark.operators import codecs

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                if blob is None:  # null payload: no row, not a crash
                    continue
                rate, samples = decode_audio(bytes(blob))
                feats = codecs.audio_features(rate, samples) + \
                    codecs.spectral_features(rate, samples)
                rows.append((int(mid), rate, len(samples), feats))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_frames", "features"],
            )

    return media.select("media_id", "content").mapInPandas(
        _batches, schema=AUDIO_FEATURE_SCHEMA
    )


def sample_frames(media: DataFrame, frame_bytes: int = 64, every_nth: int = 4) -> DataFrame:
    """Frame sampling for video payloads — one output row per sampled
    frame (every n-th). MJPEG-AVI payloads take the REAL path: the
    RIFF container is demuxed (operators/avi.py) and each sampled
    frame is an independent baseline JPEG our own decoder reads. For
    other containers the codec is STUBBED (frames = fixed-size byte
    chunks); either way the
    explode-shaped mapInPandas output, frame indexing, and stride are
    the real structure a decoder drops into."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from us_immigration_data_lake_spark.operators import avi

        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob) if blob is not None else b""
                if b[:4] == b"RIFF" and b[8:12] == avi.AVI_FOURCC:
                    frames = avi.decode_mjpeg_avi(b)
                    for i in range(0, len(frames), every_nth):
                        rows.append((int(mid), i, frames[i]))
                    continue
                n_frames = max(len(b) // frame_bytes, 1)
                for i in range(0, n_frames, every_nth):
                    rows.append(
                        (int(mid), i, b[i * frame_bytes:(i + 1) * frame_bytes])
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.select("media_id", "content").mapInPandas(
        _batches, schema=FRAME_SCHEMA
    )


def extract_features(media: DataFrame, num_features: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    The fake feature is deterministic (byte-histogram moments), so
    tests can assert exact values; the mapInPandas batch shape, arrow
    transfer, and output schema are the real thing.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            contents = pdf["content"]
            rows = []
            for mid, blob in zip(pdf["media_id"], contents):
                b = bytes(blob) if blob is not None else b""
                n = len(b)
                feats = [
                    float(sum(b[i::num_features]) % 997) / 997.0
                    for i in range(num_features)
                ]
                rows.append((int(mid), n, feats))
            yield pd.DataFrame(rows, columns=["media_id", "byte_len", "features"])

    return media.select("media_id", "content").mapInPandas(
        _batches, schema=FEATURE_SCHEMA
    )


PHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("phash", LongType(), True),
])


def _dct_matrix_n(n: int):
    import numpy as np

    # orthonormal DCT-II basis, the n×n generalization of jpeg.py's
    # 8×8 matrix (same formula, same normalization)
    k = np.arange(n)
    mat = np.sqrt(2.0 / n) * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    mat[0, :] = np.sqrt(1.0 / n)
    return mat


def phash64_pixels(pixels) -> int:
    """64-bit perceptual hash of a decoded uint8 image (classic pHash:
    32×32 luma → 2-D DCT → 8×8 low-frequency block → median
    threshold, DC excluded). Pure numpy, deterministic: nearest-
    neighbor resize is integer index arithmetic and the DCT/median
    run in IEEE doubles on identical inputs. Robust to re-encoding,
    resizing and small noise; brittle to crops/rotations by design."""
    import numpy as np

    from us_immigration_data_lake_spark.operators.codecs import resize_nearest

    px = pixels
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    small = resize_nearest(px.astype(np.uint8), 32, 32)
    # ITU-R BT.601 luma — the same weighting jpeg.py's color transform uses
    gray = (
        0.299 * small[:, :, 0] + 0.587 * small[:, :, 1] + 0.114 * small[:, :, 2]
    )
    d = _dct_matrix_n(32)
    coef = d @ gray @ d.T
    low = coef[:8, :8].flatten()
    vals = low[1:]  # DC carries mean brightness, not structure
    med = float(np.median(vals))
    bits = 0
    for i, v in enumerate(vals):
        if v > med:
            bits |= 1 << i
    # top bit unused (63 coefficients) → always fits signed int64
    return bits


def perceptual_hash_media(media: DataFrame) -> DataFrame:
    """(media_id, phash) over the binary content column — Arrow-
    batched mapInPandas like every codec op; each batch decodes and
    hashes without the raw bytes ever crossing a shuffle."""
    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                ids.append(mid)
                hashes.append(phash64_pixels(decode_image(bytes(content))))
            yield pd.DataFrame({"media_id": ids, "phash": hashes})

    return media.select("media_id", "content").mapInPandas(
        batches, schema=PHASH_SCHEMA
    )


def _hash_band_structs(col_name: str, bands: int):
    """Split a 64-bit hash column into ``bands`` DISJOINT bit ranges as
    (band index, band value) structs — the pigeonhole candidate key.

    Widths are mixed (64 = bands·base + rem → the first ``rem`` bands
    get base+1 bits) so every band stays inside the word. A uniform
    ceil-width would put the last band's shift AT or beyond 64, and
    the JVM masks shift counts to 6 bits — shiftright(h, 64) IS
    shiftright(h, 0) — silently aliasing that band to band 0 and
    breaking the losslessness guarantee for bands >= 9 (caught by the
    round-4 review, regression-tested in tests/test_phash.py).
    Bands may be empty-width only if bands > 64, which is rejected.
    """
    if not 1 <= bands <= 64:
        raise ValueError(f"bands must be in [1, 64], got {bands}")
    base, rem = divmod(64, bands)
    structs = []
    shift = 0
    for i in range(bands):
        width = base + (1 if i < rem else 0)
        mask = (1 << width) - 1
        structs.append(
            F.struct(
                F.lit(i).alias("b"),
                F.expr(
                    f"shiftright({col_name}, {shift}) & {mask}"
                ).alias("v"),
            )
        )
        shift += width
    assert shift == 64
    return F.array(*structs)


def phash_near_dups(
    hashed: DataFrame, max_hamming: int = 3, bands: int | None = None
) -> DataFrame:
    """Near-duplicate image pairs from perceptual hashes WITHOUT an
    all-pairs comparison: split the 64-bit hash into ``bands``
    16-bit-ish bands and equi-join on (band index, band value) — the
    pigeonhole guarantee is that two hashes within Hamming distance
    ``bands - 1`` share at least one identical band, so with the
    default bands = max_hamming + 1 candidate generation is lossless.
    Exact Hamming verification then removes band-collision false
    positives. Same shape as the MinHash band join (dedup.py): corpus
    shuffles once on the band key, never broadcasts, never pairs all.
    Returns (id1, id2, hamming), id1 < id2, hamming <= max_hamming.
    """
    from us_immigration_data_lake_spark.operators.dedup import hamming64

    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee distance {max_hamming}: "
            "need bands >= max_hamming + 1 (pigeonhole)"
        )
    band_arr = _hash_band_structs("phash", bands)
    exploded = hashed.select(
        F.col("media_id"), F.col("phash"), F.explode(band_arr).alias("bd")
    ).select(
        "media_id", "phash", F.col("bd.b").alias("b"), F.col("bd.v").alias("v")
    )
    a = exploded.select(
        F.col("media_id").alias("id1"), F.col("phash").alias("h1"), "b", "v"
    )
    bfr = exploded.select(
        F.col("media_id").alias("id2"), F.col("phash").alias("h2"), "b", "v"
    )
    cand = (
        a.join(bfr, ["b", "v"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "h1", "h2")
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming64("h1", "h2"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", F.col("hamming").cast("long").alias("hamming"))
    )


FINGERPRINT_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("fp_hash", LongType(), False),
    StructField("t_anchor", LongType(), False),
])


def audio_fingerprints(
    media: DataFrame,
    frame: int = 512,
    fanout: int = 5,
) -> DataFrame:
    """Constellation-map audio fingerprints (the Shazam scheme, Wang
    ISMIR 2003): per STFT frame (hop 256) keep the 3 strongest spectral
    peaks, pair each anchor peak with peaks in the next ``fanout`` frames,
    and hash (f_anchor, f_target, dt) into one BIGINT. Matching
    audio shares many hashes at a CONSISTENT time offset; noise and
    re-encoding perturb magnitudes but not peak locations.

    Arrow-batched mapInPandas over the WAV binary column (the same
    pattern as every codec op); output is (media_id, fp_hash,
    t_anchor) rows — the shuffle-joinable form of the fingerprint.

    Packing layout: (f1 << 24) | (f2 << 12) | dt — each field 12
    bits, so frequency bins must fit 0..4095 (rfft of ``frame``
    samples yields frame//2 + 1 bins) and ``fanout`` must stay
    <= 4095, or fields silently bleed into each other. Validated
    here, mirroring the bands guard in _hash_band_structs.
    """
    if frame // 2 + 1 > 4096:
        raise ValueError(
            f"frame={frame} yields {frame // 2 + 1} rfft bins; the "
            "12-bit fp_hash frequency fields hold at most 4096 "
            "(frame must be <= 8190)"
        )
    if not 1 <= fanout <= 4095:
        raise ValueError(
            f"fanout={fanout} must be in [1, 4095] to fit the 12-bit "
            "dt field of fp_hash"
        )

    def batches(it):
        import numpy as np
        import pandas as pd

        win = np.hanning(frame)  # invariant: hoisted out of the hot loop
        for pdf in it:
            ids, hashes, anchors = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _, samples = decode_audio(bytes(content))
                # decode_wav yields (n, channels); mix down to mono
                x = (
                    samples.astype(np.float64)
                    .reshape(len(samples), -1)
                    .mean(axis=1)
                )
                n_frames = max(0, (len(x) - frame) // 256 + 1)
                peak_list = []
                for t in range(n_frames):
                    seg = x[t * 256 : t * 256 + frame]
                    mag = np.abs(np.fft.rfft(seg * win))
                    mag[0] = 0.0  # DC is loudness, not pitch
                    # top-k via argpartition (O(n)), then order the k
                    # descending with the index tiebreak stable
                    cand = np.argpartition(mag, -3)[-3:]
                    ordered = sorted(
                        (int(b) for b in cand), key=lambda b: (-mag[b], b)
                    )
                    peak_list.append([b for b in ordered if mag[b] > 0])
                for t, anchor_bins in enumerate(peak_list):
                    for f1 in anchor_bins:
                        for dt in range(1, fanout + 1):
                            if t + dt >= len(peak_list):
                                break
                            for f2 in peak_list[t + dt]:
                                h = (f1 << 24) | (f2 << 12) | dt
                                ids.append(mid)
                                hashes.append(h)
                                anchors.append(t)
            yield pd.DataFrame(
                {"media_id": ids, "fp_hash": hashes, "t_anchor": anchors}
            )

    return media.select("media_id", "content").mapInPandas(
        batches, schema=FINGERPRINT_SCHEMA
    )


def _best_offset_scores(
    hist: "DataFrame", count_col: str, min_count: int
) -> "DataFrame":
    """Shared offset-consistency argmax for the fingerprint matchers:
    from a (id1, id2, offset, <count>) histogram, the single offset
    with the most agreeing matches per pair (ties → smallest offset,
    via the max-struct trick), filtered to >= min_count. One
    partial-agged groupBy — no window sort."""
    best = F.struct(
        F.col(count_col).alias("m"), (-F.col("offset")).alias("no")
    )
    return (
        hist.groupBy("id1", "id2")
        .agg(F.max(best).alias("bst"))
        .select(
            "id1",
            "id2",
            (-F.col("bst.no")).cast("long").alias("offset"),
            F.col("bst.m").alias(count_col),
        )
        .filter(F.col(count_col) >= min_count)
    )


def audio_match_pairs(fps: DataFrame, min_matches: int = 5) -> DataFrame:
    """Audio near-duplicate pairs from fingerprints: equi-join on the
    hash (never all-pairs — a pair only materializes through a shared
    peak constellation), then score by the LARGEST group of matches
    agreeing on one time offset (t1 - t2) — the offset-consistency
    test that separates true containment/duplication from hash
    coincidence. Returns (id1, id2, offset, matches) with
    matches >= min_matches, id1 < id2.

    Scale shape: one shuffle on fp_hash; the offset histogram is a
    (id1, id2, dt)-keyed count + argmax-by-struct — all partial-
    aggregated, no window sort.
    """
    a = fps.select(
        F.col("media_id").alias("id1"),
        "fp_hash",
        F.col("t_anchor").alias("t1"),
    )
    b = fps.select(
        F.col("media_id").alias("id2"),
        "fp_hash",
        F.col("t_anchor").alias("t2"),
    )
    hist = (
        a.join(b, "fp_hash")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2", (F.col("t1") - F.col("t2")).alias("offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
    )
    return _best_offset_scores(hist, "matches", min_matches)


FRAME_HASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", LongType(), False),
    StructField("phash", LongType(), False),
])


def video_frame_hashes(
    media: DataFrame, every_nth: int = 2
) -> DataFrame:
    """Per-sampled-frame perceptual hashes for video payloads —
    MJPEG-AVI demuxes for real (operators/avi.py) and each sampled
    frame goes through the same DCT pHash as still images. Output
    (media_id, frame_idx, phash) is the joinable fingerprint of the
    video's visual timeline, the image-domain analog of
    audio_fingerprints' constellation rows."""
    def batches(it):
        import pandas as pd

        from us_immigration_data_lake_spark.operators import avi

        for pdf in it:
            ids, idxs, hashes = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                if not (b[:4] == b"RIFF" and b[8:12] == avi.AVI_FOURCC):
                    raise NotImplementedError(
                        "video_frame_hashes: only MJPEG-AVI demuxes in "
                        "this environment (operators/avi.py); swap in "
                        "PyAV/ffmpeg for inter-frame codecs"
                    )
                frames = avi.decode_mjpeg_avi(b)
                for i in range(0, len(frames), every_nth):
                    ids.append(mid)
                    idxs.append(i)
                    hashes.append(phash64_pixels(decode_image(frames[i])))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "phash": hashes}
            )

    return media.select("media_id", "content").mapInPandas(
        batches, schema=FRAME_HASH_SCHEMA
    )


def video_match_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 6,
    min_matching_frames: int = 3,
) -> DataFrame:
    """Video near-duplicate pairs from frame-hash sequences: banded
    pHash join per frame (pigeonhole-lossless candidates, as
    phash_near_dups) scored by the largest set of frame matches
    agreeing on ONE temporal offset — the same offset-consistency
    test as audio_match_pairs, in the visual domain. A re-encoded,
    slightly-noised or trimmed copy matches many frames at one
    offset; two unrelated videos that happen to share one similar
    frame do not. Returns (id1, id2, offset, matching_frames)."""
    from us_immigration_data_lake_spark.operators.dedup import hamming64

    bands = max_hamming + 1
    band_arr = _hash_band_structs("phash", bands)
    exploded = frame_hashes.select(
        "media_id", "frame_idx", "phash", F.explode(band_arr).alias("bd")
    ).select(
        "media_id", "frame_idx", "phash",
        F.col("bd.b").alias("b"), F.col("bd.v").alias("v"),
    )
    a = exploded.select(
        F.col("media_id").alias("id1"), F.col("frame_idx").alias("t1"),
        F.col("phash").alias("h1"), "b", "v",
    )
    bb = exploded.select(
        F.col("media_id").alias("id2"), F.col("frame_idx").alias("t2"),
        F.col("phash").alias("h2"), "b", "v",
    )
    frame_matches = (
        a.join(bb, ["b", "v"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "t1", "t2", "h1", "h2")
        .distinct()
        .withColumn("hamming", hamming64("h1", "h2"))
        .filter(F.col("hamming") <= max_hamming)
    )
    hist = frame_matches.groupBy(
        "id1", "id2", (F.col("t1") - F.col("t2")).alias("offset")
    ).agg(F.countDistinct("t1").cast("long").alias("matching_frames"))
    return _best_offset_scores(hist, "matching_frames", min_matching_frames)
