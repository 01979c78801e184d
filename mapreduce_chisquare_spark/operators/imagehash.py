"""Content-level image near-duplicate detection: dHash + banded
Hamming candidate pairs.

The public methodology (used at LAION scale to dedup image-text
corpora) is: decode each image, downsample to a tiny grayscale grid,
take the difference hash — bit (r, c) = [pixel(r, c) < pixel(r, c+1)]
over a R x (C+1) grid, a 64-bit fingerprint robust to re-encoding,
resizing, and small edits — then pair images whose hashes sit within
a small Hamming distance. Pairing is never all-pairs: the 64-bit hash
is split into 4 x 16-bit bands and candidates are generated by band
equality. Pigeonhole gives the exactness contract: two hashes within
Hamming distance 3 differ in at most 3 of the 4 bands, so they MUST
agree on at least one band — band-join recall is 100% at the
max_dist=3 default, not probabilistic.

Two pixel sources feed the same dHash tail:
- image_phash: the text-payload stand-in decode — a deterministic
  point sample of the payload's code points, GRID_R x (GRID_C+1)
  samples at positions 1 + (i*(L-1)) div (GRID_R*(GRID_C+1) - 1) —
  useful because every document row has one and the DuckDB twin is
  bit-identical.
- image_phash_decoded: REAL decoded pixels via
  multimodal.decode_image_pixels (pure-Python PNG — zlib inflate +
  all five scanline filters — GIF LZW, baseline grayscale JPEG, and
  binary PGM/PPM), point-sampled down to the same grid by
  gray_grid_samples. Uncovered variants (progressive/color JPEG,
  palette PNG) fail loud; see multimodal.py.
video_frame_phash extends the same tail to video: real AVI frame
extraction keyed by (doc_id, frame_idx). Everything downstream of
pixel extraction — the dHash bit lattice, the band split, the
Hamming join — is exactly the production operator and is pure
integer arithmetic with a bit-identical DuckDB twin, shared by all
sources.

Scale shape: the hash is one row-local projection over the scan (no
shuffle, no UDF — whole-stage codegen). Candidate generation is
dedup.bucket_self_join on (band_idx, band_val), whose MAX_BUCKET
guard drops degenerate band buckets (boilerplate images), then a
distinct on bounded pairs; at 100 TB the band join carries 4 rows
per image, never the image bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import MAX_BUCKET, bucket_self_join
from .spread import spread_for_kernel

GRID_R = 8  # hash rows
GRID_C = 8  # comparison bits per row (grid has GRID_C + 1 columns)
N_PIX = GRID_R * (GRID_C + 1)  # 72 sampled pixels
N_BANDS = 4
BAND_BITS = (GRID_R * GRID_C) // N_BANDS  # 16


def pixel_pos(i: int) -> str:
    """1-based char position of sample i over a length-L payload:
    1 + (i * (L-1)) div (N_PIX-1) — i=0 hits the first char, i=71 the
    last, intermediate samples spread uniformly. Returned as a SQL
    fragment valid in BOTH engines (`div` is Spark; the DuckDB twin
    uses //), parameterized by the text column name."""
    return f"1 + ({i} * (length({{t}}) - 1)) div {N_PIX - 1}"


def sampled_pixel_exprs(text_col: str = "text") -> list:
    """The 72 'pixel' columns: code point of the payload char at each
    sample position (the stand-in decode — see module docstring).
    Valid only on non-empty payloads (position 1..L needs L >= 1;
    callers filter, mirrored in the SQL twins — unicode('') is 0 on
    Spark but -1 on DuckDB, so empty payloads are excluded rather
    than papered over)."""
    return [
        F.expr(
            f"ascii(substring({text_col}, "
            f"{pixel_pos(i).format(t=text_col)}, 1))"
        ).alias(f"px{i}")
        for i in range(N_PIX)
    ]


def band_exprs() -> list:
    """The 4 x 16-bit dHash bands over px0..px71. Bit index
    b = r*GRID_C + c is 1 when px[r*(GRID_C+1)+c] < px[r*(GRID_C+1)+c+1]
    (the dHash gradient rule); band j packs bits 16j..16j+15 so every
    band is a BIGINT in [0, 65535] — no sign-bit hazard anywhere."""
    bands = []
    for j in range(N_BANDS):
        acc = F.lit(0).cast("long")
        for s in range(BAND_BITS):
            b = j * BAND_BITS + s
            r, c = divmod(b, GRID_C)
            left = F.col(f"px{r * (GRID_C + 1) + c}")
            right = F.col(f"px{r * (GRID_C + 1) + c + 1}")
            acc = acc + F.when(left < right, F.lit(1 << s).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        bands.append(acc.alias(f"b{j}"))
    return bands


def _bands_to_phash(px: DataFrame, key_cols=("doc_id",)) -> DataFrame:
    """Shared dHash tail: (*key_cols, px0..px71) -> (*key_cols,
    b0..b3, phash) — the bit lattice plus the 16-hex-char fingerprint
    (big-endian band order, each band 4 uppercase hex chars). Pure
    row-local projection, whichever pixel source fed it; video frames
    key by (doc_id, frame_idx)."""
    withb = px.select(*key_cols, *band_exprs())
    phash = F.concat(
        *[F.lpad(F.hex(F.col(f"b{j}")), 4, "0") for j in range(N_BANDS)]
    )
    return withb.select(
        *key_cols, "b0", "b1", "b2", "b3", phash.alias("phash")
    )


def image_phash(media: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, b0..b3, phash): the 64-bit dHash of each payload's
    sampled grayscale grid, as 4 band ints plus the 16-hex-char
    fingerprint string. One row-local projection — no shuffle, no
    UDF. Pixels here are the text-payload stand-in decode (module
    docstring); image_phash_decoded is the same hash over REAL
    decoded pixels."""
    # parallelism floor below the 72-substring sampling projection
    # (round 16; operators/spread.py — no-op at cluster scale): the
    # stand-in decode reads 72 byte-offset substrings per row, a
    # CPU-heavy projection that otherwise runs on the 1-partition
    # small-scan side; the narrow (doc_id, text) relation is all that
    # is exchanged
    base = spread_for_kernel(
        media.filter(F.length(F.col(text_col)) >= 1).select(
            "doc_id", text_col
        ),
        "doc_id",
    )
    px = base.select("doc_id", *sampled_pixel_exprs(text_col))
    return _bands_to_phash(px)


# Decoded-pixel path: the 72 grid samples come out of a REAL image
# decode (multimodal.decode_image_pixels — PNG via zlib + unfilter,
# or binary PGM/PPM), Arrow-batched. Schema mirrors the stand-in px
# columns so the dHash tail is shared verbatim.
PX_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType())]
    + [T.StructField(f"px{i}", T.IntegerType()) for i in range(N_PIX)]
)


def decoded_pixel_batch(batches):
    """mapInPandas kernel: (doc_id, payload binary) batches ->
    (doc_id, px0..px71) via the real pixel decoders. Per-blob decode
    cost is the model at scale; batch iteration keeps it off the
    per-row Python path. Unsupported/corrupt bytes fail loud
    (decode_image_pixels contract) rather than fabricating pixels."""
    import pandas as pd  # local import: executors only

    from .multimodal import decode_image_pixels, gray_grid_samples

    for pdf in batches:
        samples = [
            gray_grid_samples(
                *decode_image_pixels(blob), GRID_R, GRID_C + 1
            )
            for blob in pdf["payload"]
        ]
        out = {"doc_id": pdf["doc_id"]}
        for i in range(N_PIX):
            out[f"px{i}"] = pd.Series(
                [s[i] for s in samples], dtype="int32"
            )
        yield pd.DataFrame(out)


def image_phash_decoded(media: DataFrame) -> DataFrame:
    """(doc_id, b0..b3, phash) over REAL decoded pixels: one narrow
    mapInPandas decode (PNG/PGM/PPM -> grayscale grid samples), then
    the shared JVM-side dHash tail. No shuffle anywhere — decode
    parallelism is partition parallelism, and the hash output (4
    BIGINTs + 16 chars per image) is what downstream band joins
    carry, never the image bytes. Feeds image_neardup_pairs /
    image_dedup_components unchanged, so the whole image-dedup ladder
    runs on real pixels for the formats the container can decode."""
    px = media.select("doc_id", "payload").mapInPandas(
        decoded_pixel_batch, PX_SCHEMA
    )
    return _bands_to_phash(px)


def hamming_expr(suffix_a: str, suffix_b: str) -> F.Column:
    """Hamming distance between two banded hashes b0..b3 carried as
    b<j><suffix_a> and b<j><suffix_b>: sum of per-band popcounts of
    the XOR — exact integer, identical in DuckDB (bit_count(xor(a, b)))."""
    d = F.lit(0)
    for j in range(N_BANDS):
        d = d + F.bit_count(
            F.col(f"b{j}{suffix_a}").bitwiseXOR(F.col(f"b{j}{suffix_b}"))
        )
    return d.cast("int")


def image_neardup_pairs(
    hashes: DataFrame,
    max_dist: int = 3,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate image pairs: (a_id, b_id, hamming) for every
    pair within `max_dist` bits whose hashes share at least one
    surviving band bucket. With max_dist <= 3 and 4 bands the band
    join is EXHAUSTIVE by pigeonhole (any pair within 3 bits agrees
    on >= 1 band), so the only recall trade is the explicit
    MAX_BUCKET guard: a band value carried by more than `max_bucket`
    images is a degenerate pattern (solid-color boilerplate — the
    image analog of a stop shingle) and is dropped instead of
    exploding quadratically, the same documented trade as
    dedup.py's LSH guard.

    Scale shape: hashes unpivot to 4 rows each and pair through
    dedup.bucket_self_join on (band_idx, band_val); pair dedup is a
    distinct over already-bounded candidates. The full hash rides
    along (4 BIGINTs), so no join back to the hash relation is needed
    for the Hamming filter."""
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.col(f"b{j}").alias("band_val"),
            )
            for j in range(N_BANDS)
        ]
    )
    unp = hashes.select(
        "doc_id", "b0", "b1", "b2", "b3", F.explode(bands).alias("bd")
    ).select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.col("bd.band_idx").alias("band_idx"),
        F.col("bd.band_val").alias("band_val"),
    )
    cand = (
        bucket_self_join(unp, ["band_idx", "band_val"], "doc_id", max_bucket)
        .drop("band_idx", "band_val")
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming_expr("_a", "_b"))
        .filter(F.col("hamming") <= F.lit(int(max_dist)))
        .select(
            F.col("doc_id_a").alias("a_id"),
            F.col("doc_id_b").alias("b_id"),
            "hamming",
        )
    )


VIDEO_PX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
    ]
    + [T.StructField(f"px{i}", T.IntegerType()) for i in range(N_PIX)]
)


def video_pixel_batch(batches):
    """mapInPandas kernel: (doc_id, payload binary AVI) batches ->
    one row per FRAME carrying the 72 grid samples of that frame's
    real decoded pixels (multimodal.decode_avi_frames — uncompressed
    DIB frames; compressed codecs fail loud). The per-frame fan-out
    happens inside the Arrow batch, never as a Spark explode of the
    video bytes."""
    import pandas as pd  # local import: executors only

    from .multimodal import decode_avi_frames, gray_grid_samples

    for pdf in batches:
        doc_ids, idxs, samples = [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, frames = decode_avi_frames(blob)
            for f, rows in enumerate(frames):
                doc_ids.append(doc_id)
                idxs.append(f)
                samples.append(
                    gray_grid_samples(w, h, rows, GRID_R, GRID_C + 1)
                )
        out = {
            "doc_id": pd.Series(doc_ids, dtype="int64"),
            "frame_idx": pd.Series(idxs, dtype="int32"),
        }
        for i in range(N_PIX):
            out[f"px{i}"] = pd.Series(
                [s[i] for s in samples], dtype="int32"
            )
        yield pd.DataFrame(out)


def video_frame_phash(media: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, b0..b3, phash) over REAL extracted video
    frames: one narrow mapInPandas (AVI movi walk -> DIB decode ->
    grid samples per frame), then the shared JVM-side dHash tail
    keyed by (doc_id, frame_idx). Zero shuffles; per-frame hashes are
    what downstream video dedup joins carry — 4 BIGINTs + 16 chars
    per frame, never frame bytes. Frame-sequence containment between
    two videos is then an equality join on phash."""
    px = media.select("doc_id", "payload").mapInPandas(
        video_pixel_batch, VIDEO_PX_SCHEMA
    )
    return _bands_to_phash(px, key_cols=("doc_id", "frame_idx"))


def video_neardup_pairs(
    frame_hashes: DataFrame,
    min_shared: int = 1,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Frame-level video near-duplicate pairs: (a_id, b_id, n_shared)
    for video pairs sharing >= min_shared bit-identical frame hashes
    — the standard frame-containment primitive (a re-encode, a
    watermarked copy, or an embedded clip shares most frame hashes
    with its source even when container bytes differ completely).

    Scale shape: frame hashes pair through dedup.bucket_self_join on
    the 64-bit hash value; a hash carried by more than `max_bucket`
    (video, frame) rows is a degenerate frame (black/slate frames —
    the video analog of a stop shingle). The join carries
    (doc_id, hash) rows only — never frame bytes — and n_shared
    counts DISTINCT shared hash values, so a still scene repeated
    across many frames counts once."""
    hv = frame_hashes.select("doc_id", "phash")
    return (
        bucket_self_join(hv, ["phash"], "doc_id", max_bucket)
        .groupBy(F.col("doc_id_a").alias("a_id"), F.col("doc_id_b").alias("b_id"))
        .agg(F.countDistinct("phash").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(int(min_shared)))
    )


SHOT_THRESHOLD = 24  # dHash bits (of 64); synth frame deltas span 9-42


def video_shot_boundaries(
    media: DataFrame, threshold: int = SHOT_THRESHOLD
) -> DataFrame:
    """Shot-boundary detection over REAL extracted video frames: per
    video, the Hamming distance between each frame's dHash and its
    predecessor's; a jump of >= `threshold` bits (of 64) marks a cut.
    Returns (doc_id, frame_idx, dist, is_boundary) for every frame
    after the first — the shot table downstream samplers read to pick
    one keyframe per shot instead of N near-identical frames.

    Scale shape: frame hashes come from the zero-shuffle decode path
    (video_frame_phash); the ONLY exchange is the doc_id partitioning
    for the per-video lag window, whose state is one previous row of
    4 SMALLINT-range band ints — never frame bytes. Distance is exact
    integer popcount-of-XOR per band (as hamming_expr), so
    the oracle can restate it bit-for-bit."""
    ph = video_frame_phash(media)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    prev = [
        F.lag(f"b{j}").over(w).alias(f"pb{j}") for j in range(N_BANDS)
    ]
    lagged = ph.select("doc_id", "frame_idx", "b0", "b1", "b2", "b3", *prev)
    dist = F.lit(0)
    for j in range(N_BANDS):
        dist = dist + F.bit_count(
            F.col(f"b{j}").bitwiseXOR(F.col(f"pb{j}"))
        )
    return (
        lagged.filter(F.col("pb0").isNotNull())
        .select(
            "doc_id",
            "frame_idx",
            dist.cast("int").alias("dist"),
            (dist >= F.lit(int(threshold))).alias("is_boundary"),
        )
    )
