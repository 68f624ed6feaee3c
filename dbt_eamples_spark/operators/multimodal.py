"""Multimodal column plumbing (SURVEY.md §2.11 X5).

Images/audio/video are opaque ``binary`` columns plus a typed
metadata struct. The decode/feature-extraction step is a Pandas-UDF
stage over ``mapInPandas``. Two decode modes:
``decode_stub='fake'`` produces a deterministic fake feature vector
from the bytes (the oracle-checkable path — no codec involved);
``decode_stub='strict'`` REALLY decodes, dispatching on magic bytes:
PNG payloads go through the pure-stdlib baseline codec
(``png.decode_png`` — zlib/struct from the public spec, since no
image library ships in this container) and yield geometry +
per-channel statistics; RIFF/WAVE PCM audio goes through the
pure-stdlib WAV codec (``wav.decode_wav``) and yields rate/duration
+ amplitude statistics (RMS, peak, zero-crossing rate, DC offset —
the silence/clipping curation signals); other media (jpeg,
compressed audio, video) still raises NotImplementedError at the
exact line a production deployment plugs PIL/librosa/av into.

Scale notes: mapInPandas streams Arrow batches — constant memory per
task regardless of corpus size; binary payloads never pass through
the driver; metadata extraction (sizes, magic, hashes) stays in
JVM built-ins so filtering/pruning on metadata happens before any
Python stage.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from dbt_eamples_spark.artifacts import load_or_build, session_cached
from dbt_eamples_spark.catalog import load_table

FEATURE_DIM = 8

_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal stand-in: the documents table with
    its text encoded as a binary payload + typed metadata struct —
    the exact shape ``spark.read.format('binaryFile')`` yields."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.length(F.col("text")).cast("long").alias("n_chars"),
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata pass over binary columns — JVM-side only (size,
    content hash, mime): what you filter on BEFORE any Python
    decode stage touches bytes."""
    bt = binary_table(spark, sf_dir)
    return bt.select(
        "doc_id",
        F.octet_length("content").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.origin").alias("origin"),
    )


def _fake_decode(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake 'decode': FEATURE_DIM byte-histogram
    moments. Stands in for image resize / audio frame sampling.

    Vectorized: the stride sums come from one numpy reshape-sum per
    payload instead of FEATURE_DIM python slice loops (same exact
    arithmetic — integer sums then one correctly-rounded double
    division, floor-truncated at 6dp so the DuckDB oracle reproduces
    it bit-exactly; zero-padding the tail never changes an int sum)."""
    import numpy as np

    out = []
    for doc_id, content in zip(batch["doc_id"], batch["content"]):
        b = bytes(content)
        n = len(b)
        if n:
            arr = np.frombuffer(b, np.uint8).astype(np.int64)
            pad = (-n) % FEATURE_DIM
            sums = np.concatenate(
                [arr, np.zeros(pad, np.int64)]
            ).reshape(-1, FEATURE_DIM).sum(axis=0)
            counts = np.maximum(
                (n - np.arange(FEATURE_DIM) + FEATURE_DIM - 1) // FEATURE_DIM,
                1,
            )
            x = sums.astype(np.float64) / counts / 255.0
            feats = list(np.floor(x * 1e6) / 1e6)
        else:
            feats = [0.0] * FEATURE_DIM
        out.append(
            {"doc_id": doc_id, "n_bytes": n, "features": [float(f) for f in feats]}
        )
    return pd.DataFrame(out, columns=["doc_id", "n_bytes", "features"])


def _png_features(b: bytes) -> list[float]:
    """Feature layout (FEATURE_DIM=8): width, height, channels,
    overall mean/255, channel-0..2 means/255 (0.0 when absent),
    bright-pixel fraction (>127)."""
    from dbt_eamples_spark.operators.png import decode_png

    w, h, ch, px = decode_png(b)
    arr = px.astype("float64")
    chan_means = [float(arr[:, :, c].mean()) / 255.0 for c in range(ch)]
    chan_means += [0.0] * (3 - len(chan_means[:3]))
    return [
        float(w),
        float(h),
        float(ch),
        float(arr.mean()) / 255.0,
        *chan_means[:3],
        float((arr > 127).mean()),
    ]


def _wav_features(b: bytes) -> list[float]:
    """Feature layout (FEATURE_DIM=8): sample_rate, n_frames,
    channels, duration_sec, RMS, peak, zero-crossing rate, DC
    offset — all amplitude stats over the channel-mean (mono-mixed)
    signal in [-1, 1], the standard audio-curation quality signals
    (silence/clipping/DC-bias filters)."""
    import numpy as np

    from dbt_eamples_spark.operators.wav import decode_wav

    rate, channels, samples = decode_wav(b)
    n_frames = samples.shape[0]
    if n_frames == 0:
        return [float(rate), 0.0, float(channels), 0.0, 0.0, 0.0, 0.0, 0.0]
    mono = samples.mean(axis=1)
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n_frames > 1 else 0.0
    return [
        float(rate),
        float(n_frames),
        float(channels),
        n_frames / rate,
        float(np.sqrt(np.mean(mono**2))),
        float(np.abs(mono).max()),
        zcr,
        float(mono.mean()),
    ]


def _gif_features(b: bytes) -> list[float]:
    """Same feature layout as _png_features (the image codecs are
    interchangeable behind the seam); decodes the FIRST frame —
    frame sampling stays JVM-side in multimodal_frame_sample."""
    from dbt_eamples_spark.operators.gif import decode_gif

    w, h, ch, px = decode_gif(b)
    arr = px.astype("float64")
    chan_means = [float(arr[:, :, c].mean()) / 255.0 for c in range(ch)]
    chan_means += [0.0] * (3 - len(chan_means[:3]))
    return [
        float(w),
        float(h),
        float(ch),
        float(arr.mean()) / 255.0,
        *chan_means[:3],
        float((arr > 127).mean()),
    ]


def _jpeg_features(b: bytes) -> list[float]:
    """Same feature layout as _png_features — the two image codecs
    are interchangeable behind the seam (decode → pixel stats)."""
    from dbt_eamples_spark.operators.jpeg import decode_jpeg

    w, h, ch, px = decode_jpeg(b)
    arr = px.astype("float64")
    chan_means = [float(arr[:, :, c].mean()) / 255.0 for c in range(ch)]
    chan_means += [0.0] * (3 - len(chan_means[:3]))
    return [
        float(w),
        float(h),
        float(ch),
        float(arr.mean()) / 255.0,
        *chan_means[:3],
        float((arr > 127).mean()),
    ]


def _strict_decode(batch: pd.DataFrame) -> pd.DataFrame:
    """REAL decode, dispatched on magic bytes: PNG (incl. palette)
    and baseline/progressive JPEG payloads via the pure-stdlib image
    codecs, RIFF/WAVE PCM audio via the pure-stdlib WAV codec.
    Anything else raises NotImplementedError — the PIL/librosa/av
    integration point for subsampled JPEG, compressed audio, and
    video."""
    from dbt_eamples_spark.operators.gif import is_gif
    from dbt_eamples_spark.operators.jpeg import is_jpeg
    from dbt_eamples_spark.operators.png import is_png
    from dbt_eamples_spark.operators.wav import is_wav

    out = []
    for doc_id, content in zip(batch["doc_id"], batch["content"]):
        b = bytes(content)
        if is_png(b):
            feats = _png_features(b)
        elif is_jpeg(b):
            feats = _jpeg_features(b)
        elif is_gif(b):
            feats = _gif_features(b)
        elif is_wav(b):
            feats = _wav_features(b)
        else:
            raise NotImplementedError(
                "strict decode handles PNG, baseline/progressive "
                "JPEG, GIF87a/89a and PCM WAV natively; other media "
                "(subsampled jpeg, compressed audio, video) requires "
                "PIL/librosa/av — integrate here, or use "
                "decode_stub='fake'"
            )
        out.append({"doc_id": doc_id, "n_bytes": len(b), "features": feats})
    return pd.DataFrame(out, columns=["doc_id", "n_bytes", "features"])


def multimodal_decode_features(
    spark: SparkSession, sf_dir: str, decode_stub: str = "fake"
) -> DataFrame:
    """Arrow-batched decode/feature-extract stage over mapInPandas.

    ``decode_stub='strict'`` decodes for real — PNG via the stdlib
    baseline codec; other media raise NotImplementedError at the
    integration point (PIL.Image.open / librosa.load / av.open).
    The fake path stays the oracle-checkable default (its features
    are byte arithmetic DuckDB can replicate; a zlib inflate isn't).
    """
    return decode_features_frame(
        binary_table(spark, sf_dir).select("doc_id", "content"), decode_stub
    )


def decode_features_frame(bt: DataFrame, decode_stub: str = "fake") -> DataFrame:
    """mapInPandas decode stage over any (doc_id, content) frame —
    factored out so tests can feed REAL image payloads through the
    identical plumbing the fixture path uses.

    The input is coalesced (narrow — no shuffle) to a quarter of the
    default parallelism: every Arrow task pays a fixed
    worker+serialization setup cost, so a Python stage wants FEWER,
    FATTER batches than a JVM stage (measured ~2× on the fixture,
    where 32 tasks of ~150 rows were pure overhead). On a cluster
    the same holds per executor; the floor keeps at least 4 tasks so
    the stage still spreads."""
    decoder = _strict_decode if decode_stub == "strict" else _fake_decode

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                yield decoder(batch)

    n = max(4, bt.sparkSession.sparkContext.defaultParallelism // 4)
    return bt.coalesce(n).mapInPandas(decode, schema=_FEATURE_SCHEMA)


def multimodal_features_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: decoded feature vectors flattened to
    scalar columns (first two moments) so the oracle can check the
    plumbing end-to-end without array-float hashing."""
    feats = multimodal_decode_features(spark, sf_dir, decode_stub="fake")
    return feats.select(
        "doc_id",
        "n_bytes",
        F.element_at("features", 1).alias("feat_0"),
        F.element_at("features", 2).alias("feat_1"),
    )


FRAME_BYTES = 16   # bytes per "frame" of the payload
FRAME_STRIDE = 4   # keep every 4th frame


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads — the video-ingest shape:
    chunk the payload into fixed FRAME_BYTES frames, keep every
    FRAME_STRIDE-th frame, fingerprint each kept frame. Entirely
    JVM-side (hex → substring → md5): frame selection and hashing
    need no Python, so a real pipeline only pays the Arrow hop for
    frames that SURVIVE sampling (this stage feeds
    multimodal_decode_features, it doesn't replace it).

    Portability: frames are cut from the hex encoding (2 chars per
    byte) because DuckDB has no byte-substring on BLOB — hex is 1-1
    with bytes, so hashing the hex slice fingerprints the frame
    exactly. The hex string materializes in its own projection below
    the explode so it's computed once per doc, not once per frame.
    Tail bytes short of a full frame are dropped (n_frames = floor),
    matching fixed-size video frame buffers."""
    bt = binary_table(spark, sf_dir).select("doc_id", "content")
    base = bt.select(
        "doc_id",
        F.hex("content").alias("h"),
        F.floor(F.octet_length("content") / F.lit(FRAME_BYTES))
        .cast("long")
        .alias("n_frames"),
    )
    ids = F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)))
    return (
        base.select(
            "doc_id", "h", "n_frames", F.explode_outer(ids).alias("frame_idx")
        )
        .filter(
            (F.col("frame_idx") < F.col("n_frames"))
            & (F.col("frame_idx") % FRAME_STRIDE == 0)
        )
        .select(
            "doc_id",
            "frame_idx",
            "n_frames",
            F.md5(
                F.substring(
                    F.col("h"),
                    (F.col("frame_idx") * (2 * FRAME_BYTES) + 1).cast("int"),
                    2 * FRAME_BYTES,
                )
            ).alias("frame_md5"),
        )
    )


# ---- cross-engine codec exercise (VERDICT r6 #8) ----------------------------
CODEC_GRID = 8      # image payloads are GRID×GRID
CODEC_WAV_N = 64    # PCM frames per audio payload
CODEC_WAV_RATE = 8000
_CODEC_PALETTE = (0, 85, 170, 255)  # 4-gray GIF palette


def _codec_payload_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic mixed-media payload per doc_id — PNG / GIF /
    WAV round-robin by doc_id % 3, content a closed-form function of
    doc_id so the decoded statistics are SQL-computable without the
    oracle ever seeing a codec:

      PNG  gray 8×8:  px[i]  = (doc_id·31 + i) mod 256
      GIF  4-gray 8×8: idx[i] = (doc_id + i) mod 4, value 85·idx
      WAV  PCM16 mono: x[i]  = (((doc_id·7 + i·13) mod 2001) − 1000)/1000

    The WAV quantizer never lands on an exact .5 (32768k ≡ 500 mod
    1000 has no solution), so numpy's round-half-even and SQL's
    round-half-away agree on every sample."""
    import numpy as np

    from dbt_eamples_spark.operators.gif import encode_gif_indexed
    from dbt_eamples_spark.operators.png import encode_png
    from dbt_eamples_spark.operators.wav import encode_wav

    n = CODEC_GRID * CODEC_GRID
    out = []
    for d in batch["doc_id"]:
        d = int(d)
        kind = d % 3
        if kind == 0:
            px = (
                ((d * 31 + np.arange(n)) % 256)
                .astype(np.uint8)
                .reshape(CODEC_GRID, CODEC_GRID)
            )
            b = encode_png(px)
        elif kind == 1:
            idx = (
                ((d + np.arange(n)) % 4)
                .astype(np.uint8)
                .reshape(CODEC_GRID, CODEC_GRID)
            )
            pal = np.array(
                [[v, v, v] for v in _CODEC_PALETTE], np.uint8
            )
            b = encode_gif_indexed(pal, idx)
        else:
            k = ((d * 7 + np.arange(CODEC_WAV_N) * 13) % 2001) - 1000
            b = encode_wav(k / 1000.0, CODEC_WAV_RATE)
        out.append({"doc_id": d, "content": b})
    return pd.DataFrame(out, columns=["doc_id", "content"])


def multimodal_codec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STRICT-codec exercise as a correctness row: per
    doc, generate the deterministic payload (PNG / GIF+LZW / WAV
    round-robin), push it through the real pure-stdlib decoders via
    the same Arrow ``decode_features_frame`` seam production media
    uses, and emit the 8 decoded features. Because content is a
    closed form of doc_id, the DuckDB oracle computes the expected
    features from the GENERATIVE formula — any bit regression in
    any of the three codecs (or the Arrow plumbing) breaks the
    value hash. Encode→decode exactness arguments: image sums are
    small exact integers; WAV amplitudes are dyadic rationals
    (k/2^15) whose 64-term sums stay ≤ 2^53, so every moment is
    bit-exact in both engines.

    Scale shape: two Arrow map stages (generate, decode) over a
    parallelized scan (single-row-group fixture parquet would run
    the whole python codec chain as ONE task otherwise — the
    dedup_phash lesson); the ORDER BY is the driver-side output
    contract only."""
    docs = load_table(
        spark, sf_dir, "documents", parallelize=True
    ).select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _codec_payload_batch(b)

    payloads = docs.mapInPandas(gen, schema="doc_id long, content binary")
    feats = decode_features_frame(payloads, decode_stub="strict")
    return feats.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("int").alias("kind"),
        *[
            F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(FEATURE_DIM)
        ],
    ).orderBy("doc_id")


# ---- perceptual image near-dup (VERDICT r7 #4) ------------------------------
PHASH_GROUP = 5            # docs per planted scene: base + 3 shifts + 1 corrupt
PHASH_H, PHASH_W = 16, 18  # generated image geometry (2×2-pooled to 8×9)
PHASH_BUCKET_CAP = 256     # oversized-band guard (entity-match recipe)
PHASH_MAX_HAMMING = 4      # verify threshold (planted ≤2, cross-scene ≥7)
# collision-free horizon of the generative form: two scenes repeat
# only when g ≡ g' under ALL of 199, 193 AND 197 (the r11 third
# coprime modulus — each modulus rides its own monomial, so the
# mod-199 polynomial identity forces every congruence separately),
# so distinct-scene images are guaranteed below lcm(199,193,197)
# scenes (~37.8M docs — covers the 10× synthesis whose offset ids
# overflowed the old two-modulus 38,407-scene horizon). Guarded at
# generation time (VERDICT r8 #7) so a larger synthesis fails
# loudly instead of silently planting cross-scene duplicates.
PHASH_SCENE_PERIOD = 199 * 193 * 197  # 7,566,179 scenes


def _phash_pixels(doc_id: int):
    """Closed-form grayscale image for ``doc_id`` — the generative
    contract shared verbatim with the DuckDB oracle: scene
    g = doc_id//5 draws base(i) = ((g+1)(i²+3i+7) + (13g mod 193)
    (2i+1) + (7g mod 197)·i³) mod 199 over the raster index i;
    members m = doc_id%5 add a constant brightness shift (+m —
    preserves every adjacent-block comparison, so members 0-3 share
    the exact dHash), and member 4 additionally corrupts ONE pixel
    (+50 at i = 13g mod 288 — flips ≤2 hash bits, measured ≤2).
    Each modulus rides its own monomial degree (i³ coefficient is
    the mod-197 term alone, i² the mod-199 term, and matching the
    i¹/i⁰ coefficients then forces the mod-193 term), so two scenes
    produce identical arrays only when g ≡ g' under ALL of 199, 193
    and 197 — period lcm = 7,566,179 scenes (~37.8M docs). The
    third term was added in r11 because the 10× synthesis's offset
    doc_ids overflowed the old two-modulus horizon; cross-scene
    Hamming re-measured after the change (see
    tests/test_round9_ops.py's separation locks and BENCH_SF1.md)."""
    import numpy as np

    g, m = doc_id // PHASH_GROUP, doc_id % PHASH_GROUP
    if g >= PHASH_SCENE_PERIOD:
        raise ValueError(
            f"phash generative fixture: scene {g} >= the three-modulus "
            f"collision-free period {PHASH_SCENE_PERIOD} — add a fourth "
            "coprime modulus before synthesizing past ~37.8M docs"
        )
    i = np.arange(PHASH_H * PHASH_W, dtype=np.int64)
    base = (
        (g + 1) * (i * i + 3 * i + 7)
        + (g * 13 % 193) * (2 * i + 1)
        + (g * 7 % 197) * (i * i * i)
    ) % 199
    img = base + m
    if m == PHASH_GROUP - 1:
        img = img + 50 * (i == (g * 13) % (PHASH_H * PHASH_W))
    return img.astype(np.uint8).reshape(PHASH_H, PHASH_W)


def _phash_payload_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Encode each doc's closed-form image as a REAL baseline PNG."""
    from dbt_eamples_spark.operators.png import encode_png

    out = [
        {"doc_id": int(d), "content": encode_png(_phash_pixels(int(d)))}
        for d in batch["doc_id"]
    ]
    return pd.DataFrame(out, columns=["doc_id", "content"])


def _phash_band_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """STRICT decode (real PNG codec) → dHash split into 4×16-bit
    band integers. dHash: 2×2 block sums (integer-exact) pooled to
    an 8-row × 9-col grid, bit(r,c) = S(r,c) > S(r,c+1) → 64 bits at
    index i = r·8+c, band b = bits [16b, 16b+16) packed little-end.
    Bands are the LSH key (Hamming-≤3 twins must share ≥1 band by
    pigeonhole) AND carry the full hash for the verify step."""
    import numpy as np

    from dbt_eamples_spark.operators.png import decode_png

    out = []
    for doc_id, content in zip(batch["doc_id"], batch["content"]):
        w, h, ch, px = decode_png(bytes(content))
        if (w, h, ch) != (PHASH_W, PHASH_H, 1):
            # not assert: survives python -O — a geometry regression
            # must fail loudly here, not reshape into wrong bands
            raise ValueError(
                f"phash decode geometry {(w, h, ch)} != "
                f"{(PHASH_W, PHASH_H, 1)} for doc_id={int(doc_id)}"
            )
        p = px.reshape(PHASH_H, PHASH_W).astype(np.int64)
        s = p.reshape(PHASH_H // 2, 2, PHASH_W // 2, 2).sum(axis=(1, 3))
        bits = (s[:, :-1] > s[:, 1:]).astype(np.int64).flatten()
        bands = [
            int(sum(int(bits[16 * b + j]) << j for j in range(16)))
            for b in range(4)
        ]
        out.append(
            {
                "doc_id": int(doc_id),
                "b0": bands[0],
                "b1": bands[1],
                "b2": bands[2],
                "b3": bands[3],
            }
        )
    return pd.DataFrame(out, columns=["doc_id", "b0", "b1", "b2", "b3"])


def _phash_bands_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) dHash bands for a doc_id frame: the full
    PNG encode → strict decode → pool → band chain as two Arrow
    stages — shared by :func:`dedup_phash`, the persisted corpus
    index build, and the incremental probe's delta side."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _phash_payload_batch(b)

    def dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _phash_band_batch(b)

    payloads = docs.mapInPandas(gen, schema="doc_id long, content binary")
    return payloads.mapInPandas(
        dhash, schema="doc_id long, b0 long, b1 long, b2 long, b3 long"
    )


def dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate detection — dHash over REAL
    PNGs through the strict Arrow decode seam, Hamming-banded LSH
    buckets, in-bucket pair expansion, exact Hamming verify: the
    image twin of the MinHash band→bucket→verify text pipeline,
    tying the codec stack into the dedup family (VERDICT r7 #4).

    Stages: (1) Arrow generate — closed-form grayscale images
    encoded with the real PNG encoder (the oracle never sees a
    codec: it recomputes the dHash from the generative formula, so
    any codec bit regression breaks the value hash, exactly the
    multimodal_codec_stats contract); (2) Arrow decode+hash — real
    PNG decode, integer 2×2 pooling, 64-bit dHash as 4×16-bit band
    ints; (3) JVM banding — explode 4 (band_idx, value) keys,
    groupBy buckets (capped at PHASH_BUCKET_CAP, the entity-match
    oversized-block guard, oracle-mirrored), in-bucket a<b pair
    expansion; (4) verify — join both sides' bands back, Hamming =
    Σ bit_count(xor) over the 4 bands (pure JVM integer ops), keep
    ≤ PHASH_MAX_HAMMING.

    Planted truth (test-locked, 10× fixture too): members of a
    scene sit at Hamming ≤2 sharing ≥3 bands → banding recall 1.0;
    cross-scene pairs measure Hamming ≥7, so the verify threshold 4
    rejects every band false positive. Scale shape: candidate pairs
    come from band buckets (Σ bucket² bounded by the cap), never an
    all-pairs self-join; the two band joins shuffle O(pairs).
    ``parallelize=True`` because the fixture parquet is one row
    group — without the repartition the ENTIRE python codec chain
    (encode + decode per image) runs as one task: measured 10×
    exponent 1.14 serial → 0.9-ish parallel (ROUND8_NOTES)."""
    docs = load_table(
        spark, sf_dir, "documents", parallelize=True
    ).select("doc_id")
    bands = _phash_bands_frame(docs).localCheckpoint(
        eager=True
    )  # 3 consumers: banding + both verify sides
    ex = bands.select(
        "doc_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "bv"
        ),
    )
    buckets = (
        ex.groupBy("band_idx", "bv")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= PHASH_BUCKET_CAP)
        )
    )
    pair = F.explode(
        F.filter(
            F.flatten(
                F.transform(
                    "ids",
                    lambda a: F.transform(
                        "ids",
                        lambda b: F.struct(
                            a.alias("doc_a"), b.alias("doc_b")
                        ),
                    ),
                )
            ),
            lambda s: s["doc_a"] < s["doc_b"],
        )
    )
    cands = (
        buckets.select(pair.alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("int").alias("n_bands_shared"))
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(4)],
    )
    hamming = sum(
        F.expr(f"bit_count(a{i} ^ bb{i})") for i in range(4)
    ).cast("int")
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands_shared",
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


def dedup_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the perceptual near-dup pairs —
    the image twin of :func:`dedup.dedup_clusters`: transitive
    closure of the Hamming-verified dHash pairs, so a scene whose
    variants chain A~B, B~C keeps ONE canonical image even when A~C
    was never directly bucketed. This turns the pairwise
    :func:`dedup_phash` evidence into the keep/drop verdict an
    image-curation pipeline consumes.

    Same min-label propagation kernel (one node-keyed shuffle per
    round, edges checkpointed once, diameter-bounded iterations) —
    shared code, shared scale argument. Output: (doc_id, cluster_id,
    cluster_size, keep) for every pair-involved image; singletons
    never enter the pair graph and are implicitly kept."""
    from pyspark.sql import Window

    from dbt_eamples_spark.operators.dedup import _min_label_propagation

    pairs = dedup_phash(spark, sf_dir).select("doc_a", "doc_b")
    comp = _min_label_propagation(pairs, "doc_a", "doc_b")
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


def phash_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED corpus-side dHash band index (corpus_doc,
    b0..b3): built once per documents fingerprint and stored as a
    parquet artifact, so an image-ingest delta probes it WITHOUT
    paying corpus decode+hash — the image twin of
    :func:`dedup.minhash_band_index` (VERDICT r8 #8). Corpus =
    doc_id % INCR_MOD != 0 (the held-out tenth is the incoming
    batch, the incremental-minhash fixture convention)."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    def build() -> DataFrame:
        docs = load_table(
            spark, sf_dir, "documents", parallelize=True
        ).select("doc_id")
        corpus = docs.filter(~(F.col("doc_id") % INCR_MOD == 0))
        return _phash_bands_frame(corpus).select(
            F.col("doc_id").alias("corpus_doc"), "b0", "b1", "b2", "b3"
        )

    return session_cached(
        spark, sf_dir, ("documents",), "phash_band_index",
        lambda fp: load_or_build(
            spark, "phash_band_index", fp, build
        ).persist(),
    )


def phash_band_index_apply_delta(
    spark: SparkSession,
    sf_dir: str,
    delta_docs: DataFrame,
    publish_fingerprint: str | None = None,
) -> DataFrame:
    """Delta-maintain the persisted phash band index: decode+dHash
    the ``delta_docs`` (doc_id) images ONLY and append — per-doc
    state, so a pure index-append like
    :func:`dedup.minhash_band_index_apply_delta`. With
    ``publish_fingerprint`` the merged index lands in the artifact
    store for the next batch's probe. Pytest-locked row-identical
    to a from-scratch build over base-corpus ∪ delta. The %INCR_MOD
    corpus convention is applied to the DELTA too (ADVICE r9): a
    from-scratch build at any fingerprint excludes doc_id %
    INCR_MOD == 0 rows, so the merged/published index must as well
    — the fingerprint→content invariant."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    base = phash_band_index(spark, sf_dir)
    new_rows = _phash_bands_frame(
        delta_docs.select("doc_id").filter(
            ~(F.col("doc_id") % INCR_MOD == 0)
        )
    ).select(
        F.col("doc_id").alias("corpus_doc"), "b0", "b1", "b2", "b3"
    )
    merged = base.unionByName(new_rows)
    if publish_fingerprint is not None:
        merged = load_or_build(
            spark, "phash_band_index", publish_fingerprint,
            lambda: merged,
        )
    return merged


def dedup_incremental_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual near-dup check: hash the NEW image
    batch only and probe the persisted corpus band index — the image
    twin of :func:`dedup.dedup_incremental_minhash` (VERDICT r8 #8).
    The corpus is decoded+hashed once per fingerprint (the artifact
    build); each delta pays decode+dHash on its own images only.
    Candidates come from an asymmetric (band_idx, band_value)
    equi-join of batch keys against index keys — never a corpus
    self-join, so incremental cost is O(|delta| + band collisions);
    a viral band value is an AQE-splittable join key. Verify is the
    exact 64-bit Hamming distance via bit_count(xor) over the four
    bands, same threshold as :func:`dedup_phash`.

    Output: (new_doc, corpus_doc, n_bands_shared, hamming) for every
    verified pair at Hamming ≤ PHASH_MAX_HAMMING."""
    from dbt_eamples_spark.operators.dedup import INCR_MOD

    docs = load_table(
        spark, sf_dir, "documents", parallelize=True
    ).select("doc_id")
    new_bands = _phash_bands_frame(
        docs.filter(F.col("doc_id") % INCR_MOD == 0)
    ).localCheckpoint(eager=True)  # delta-sized; key + verify sides
    idx = phash_band_index(spark, sf_dir)
    ex_new = new_bands.select(
        F.col("doc_id").alias("new_doc"),
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "bv"
        ),
    )
    ex_idx = idx.select(
        "corpus_doc",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "bv"
        ),
    )
    cands = (
        ex_new.join(ex_idx, ["band_idx", "bv"])
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count("*").cast("int").alias("n_bands_shared"))
    )
    a = new_bands.select(
        F.col("doc_id").alias("new_doc"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    b = idx.select(
        "corpus_doc",
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(4)],
    )
    hamming = sum(
        F.expr(f"bit_count(a{i} ^ bb{i})") for i in range(4)
    ).cast("int")
    return (
        cands.join(F.broadcast(a), "new_doc")
        .join(b, "corpus_doc")
        .select(
            "new_doc",
            "corpus_doc",
            "n_bands_shared",
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )
