"""Image near-duplicate detection — perceptual hash (pHash) + hamming-band
blocking: the image-modality member of the dedup family (exact/MinHash/
SimHash/embedding cover text and vectors; this covers the decoded image
rows the multimodal pipeline produces).

pHash (the classic DCT method): grayscale → 32×32 → 2-D DCT-II → the 8×8
low-frequency block (DC excluded) → median threshold → 64-bit fingerprint.
Resize/re-encode/brightness changes leave the low-frequency spectrum (and
so the hash) nearly unchanged; distinct images differ in ~half the bits.
The DCT is an exact basis-matrix multiply (pure NumPy — no scipy in this
container) and is verified in tests against an independent O(N²)
direct-formula DCT.

Pixel source: real codecs are not in this container, so the pixel grid
comes from Pillow when available and otherwise from the synthetic FAKEIMG
payload, tiled byte-for-byte into the 32×32 grid — DETERMINISTIC and
LOCALITY-PRESERVING (a small payload edit changes few pixels, so the fake
behaves like a real image under pHash: near-identical payloads → small
hamming distance). The Spark-side plumbing — Arrow map, schema, NULL/error
handling, band join — is real and tested either way.

Blocking: ``hamming_pairs`` — band blocking over the 64-bit hash, exact
band equi-join, then the true ``bit_count(xor)`` check (the simhash_pairs
skeleton widened to 64 bits). When the threshold leaves slack
(``max_hamming ≤ n_bands − 2``) the join key is a PAIR of bands (the
multi-index/HmSearch refinement, Norouzi et al. 2012): distance ≤ d
corrupts ≤ d bands, so ≥ 2 of 8 survive intact and some band PAIR matches
— identical recall, but 16-bit buckets instead of 8-bit, which cuts the
per-bucket candidate mass ~256× (the single-band join is quadratic per
2^8-value bucket and dominated audio_near_dup's wall). One linear shuffle
on (band, key); never an all-pairs join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FAKE = re.compile(rb"^FAKEIMG:(\d+)x(\d+):")
GRID = 32  # pHash working resolution
BLOCK = 8  # low-frequency block (8x8 - DC = 63 bits + 1 pad = 64-bit hash)


from functools import lru_cache


@lru_cache(maxsize=4)
def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (numpy). Cached — ``phash_bytes`` runs once
    per IMAGE in the corpus-sized Arrow pass, and rebuilding the constant
    1024-cell basis there would be a meaningful share of the per-image work
    (the real work is just two 32x32 matmuls)."""
    import numpy as np

    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    m[0] /= np.sqrt(2.0)
    return m


def _pixels(content: bytes):
    """32×32 float grayscale grid from decoded content (Pillow if the bytes
    are a real image, FAKEIMG payload tiling otherwise). None = undecodable."""
    import numpy as np

    m = _FAKE.match(content or b"")
    if m:
        payload = content[m.end() :]
        if not payload:
            payload = b"\x00"
        reps = -(-(GRID * GRID) // len(payload))  # ceil
        buf = (payload * reps)[: GRID * GRID]
        return np.frombuffer(buf, dtype=np.uint8).astype(np.float64).reshape(
            GRID, GRID
        )
    try:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(content)).convert("L").resize((GRID, GRID))
        return np.asarray(img, dtype=np.float64)
    except Exception:
        return None


def phash_bytes(content: bytes) -> int | None:
    """64-bit perceptual hash of decoded image bytes (None if undecodable)."""
    import numpy as np

    px = _pixels(content)
    if px is None:
        return None
    d = _dct_matrix(GRID)
    spec = d @ px @ d.T
    block = spec[:BLOCK, :BLOCK].flatten()[1:]  # drop DC
    med = np.median(block)
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= 1 << 63 else bits  # signed long


def phash_images(
    decoded: DataFrame, content_col: str = "content", out_col: str = "phash"
) -> DataFrame:
    """Add the 64-bit pHash to decoded image rows (``decode_images`` output
    or any (…, content binary) frame). Error/empty/undecodable rows get
    NULL. Map-only Arrow pass."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [f for f in decoded.schema.fields if f.name != out_col]
        + [StructField(out_col, LongType(), True)]
    )
    in_cols = [f.name for f in decoded.schema.fields if f.name != out_col]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[in_cols].copy()
            # object dtype from the start: Series.map over ints + None would
            # promote to float64 and drop the low bits of 64-bit hashes
            pdf[out_col] = pd.Series(
                [
                    phash_bytes(bytes(c)) if c is not None and len(c) else None
                    for c in pdf[content_col]
                ],
                index=pdf.index,
                dtype="object",
            )
            yield pdf

    return decoded.mapInPandas(run, schema=out_schema)


def _permuted_hash_sql(hash_col: str, n_bands: int, width: int) -> str:
    """SQL bit-transposing ``hash_col`` so that the INTERLEAVED band
    partition becomes contiguous slices: permuted bit (k·width + i) = input
    bit (k + i·n_bands), i.e. band k owns input bit positions
    {k + i·n_bands : i < width} and reads them back as one cheap
    shift-and-mask. Any fixed partition of the 64 bits into n_bands
    disjoint sets preserves the pigeonhole exactness argument (distance d
    corrupts ≤ d bands), so the partition is free to optimize bucket
    balance: perceptual hashes order bits by frequency band
    (Haitsma-Kalker) or DCT coefficient (pHash), and ADJACENT bits
    correlate — contiguous bands over the RAW hash concentrate the
    low-entropy region into near-degenerate keys whose buckets go quadratic
    (measured 3.3x the candidate mass on the audio corpus). Dealing bits
    round-robin mixes entropy into every band at identical cost and recall.
    The 64-term transpose is projected ONCE per input row, BEFORE the band
    explode — per-band keys inside the explode stay the single shift+mask
    they were under contiguous banding (the inline interleaved form cost
    width× per exploded row: 448 terms/row in the 28-pair explode)."""
    terms = [
        f"shiftleft(shiftright({hash_col}, {k + i * n_bands}) & 1, "
        f"{k * width + i})"
        for k in range(n_bands)
        for i in range(width)
    ]
    return "(" + " | ".join(terms) + ")"


def check_band_completeness(max_hamming: int, n_bands: int) -> None:
    """Fail LOUDLY when the pigeonhole precondition doesn't hold: single-band
    blocking is exact only for distance ≤ n_bands − 1 (a pair at distance
    n_bands can corrupt every band and silently never become a candidate —
    review finding: the old guard checked only that n_bands divides 64).
    Shared by the batch join and both streaming indexes."""
    if not 1 <= n_bands <= 64 or 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole completeness "
            f"bound for n_bands={n_bands} (exact only for distance <= "
            f"{n_bands - 1}) — raise n_bands or lower max_hamming"
        )


def band_rows(
    hashed: DataFrame, id_col: str, hash_col: str, n_bands: int
) -> DataFrame:
    """(id, hash, band, bkey): the ``n_bands`` exact band keys of each
    non-NULL 64-bit hash — the ONE banding definition shared by the batch
    join (``hamming_pairs``) and the streaming indexes
    (``streaming/images``, ``streaming/audio``), so batch/stream parity
    cannot drift. Bands partition the bit positions INTERLEAVED (band k =
    bits ≡ k mod n_bands — see ``_permuted_hash_sql`` for why); streaming
    band state persisted under a different partition must be rebuilt via
    the batch operator (the append-only contract's standing migration
    path)."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    return (
        hashed.filter(F.col(hash_col).isNotNull())
        .select(
            id_col,
            hash_col,
            F.expr(_permuted_hash_sql(hash_col, n_bands, width)).alias(
                "_hperm"
            ),
        )
        .select(
            id_col,
            hash_col,
            "_hperm",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias(
                "band"
            ),
        )
        .select(
            id_col,
            hash_col,
            "band",
            F.expr(f"shiftright(_hperm, band * {width}) & {mask}").alias(
                "bkey"
            ),
        )
    )


def band_pair_rows(
    hashed: DataFrame, id_col: str, hash_col: str, n_bands: int
) -> DataFrame:
    """(id, hash, band, bkey) where ``band`` indexes an (i, j) band PAIR
    (i < j) and ``bkey`` packs both bands' bits into one key — the
    multi-index refinement of ``band_rows`` (same interleaved bit
    partition). Valid as an exact blocking whenever distance ≤ n_bands − 2:
    at most that many bands are corrupted, so at least two survive and
    their pair key matches. C(n_bands, 2) rows per hash (3.5× the
    single-band explode at 8 bands) buy buckets that are 2^width times
    finer — the explode is map-side and linear; the join it feeds is
    per-bucket quadratic, so finer buckets win at any real N."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    combos = F.array(
        *[
            F.struct(F.lit(i).alias("bi"), F.lit(j).alias("bj"))
            for i in range(n_bands)
            for j in range(i + 1, n_bands)
        ]
    )
    ki = f"(shiftright(_hperm, _bp.bi * {width}) & {mask})"
    kj = f"(shiftright(_hperm, _bp.bj * {width}) & {mask})"
    return (
        hashed.filter(F.col(hash_col).isNotNull())
        .select(
            id_col,
            hash_col,
            F.expr(_permuted_hash_sql(hash_col, n_bands, width)).alias(
                "_hperm"
            ),
        )
        .select(id_col, hash_col, "_hperm", F.explode(combos).alias("_bp"))
        .select(
            id_col,
            hash_col,
            (F.col("_bp.bi") * n_bands + F.col("_bp.bj")).alias("band"),
            F.expr(f"{ki} * {mask + 1} + {kj}").alias("bkey"),
        )
    )


def hamming_pairs(
    hashed: DataFrame,
    max_hamming: int = 6,
    id_col: str = "path",
    hash_col: str = "phash",
    n_bands: int = 8,
    stage: bool | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs with hamming(hash) ≤ max_hamming,
    found via exact band blocking over the 64-bit hash, then verified with
    the true ``bit_count(xor)``. NULL hashes never pair.

    Blocking key (both EXACT for the given threshold, identical output):
    - ``max_hamming ≤ n_bands − 2``: pair-of-bands keys (``band_pair_rows``)
      — ≥ 2 bands survive any allowed distance, so some pair matches; the
      2^(2·width)-value buckets keep the per-bucket quadratic join tame.
    - otherwise: single-band keys (``band_rows``; pigeonhole requires only
      distance ≤ n_bands − 1, which pairs can't guarantee).

    Both sides of the band self-join consume ``hashed``, and Spark
    re-executes common subtrees per consumer — with the usual producer
    (``phash_images``, a Python DCT pass over every image) that would hash
    the corpus TWICE. ``stage=None`` applies the house rule: wide or
    nondeterministic upstreams are staged to a tiny (id, hash) parquet once;
    bare scans re-read. ``stage=True``/``False`` overrides."""
    check_band_completeness(max_hamming, n_bands)
    from photo_vector_search_spark.operators.shuffle import (
        _rescan_safe_and_cheap,
    )
    from photo_vector_search_spark.operators.staging import stage_frame

    slim = hashed.select(id_col, hash_col)
    if stage is None:
        stage = not _rescan_safe_and_cheap(slim)
    if stage:
        slim = stage_frame(slim, "pvs_phash")
    hashed = slim
    rows_fn = band_pair_rows if max_hamming <= n_bands - 2 else band_rows
    banded = rows_fn(hashed, id_col, hash_col, n_bands).withColumnRenamed(
        id_col, "_id"
    ).withColumnRenamed(hash_col, "_h")
    # Pin the join's parallelism by KEY with an explicit partition count:
    # the banded rows are small (tens of bytes) but the self-join's output
    # is sum-of-bucket-size² — AQE coalesces post-shuffle partitions by
    # INPUT bytes and would funnel an exploding join through 1-2 tasks
    # (measured: the 87M-candidate audio join ran single-task, 37s wall).
    # An explicit count is exempt from AQE coalescing; both sides share the
    # partitioning so the join adds no extra exchange.
    banded = banded.repartition(
        hashed.sparkSession.sparkContext.defaultParallelism, "band", "bkey"
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._h").alias("_ha"),
            F.col("r._h").alias("_hb"),
        )
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    # verify BEFORE the dedup shuffle: a pair can collide in up to
    # C(n_bands,2) buckets, and the ham check is a map-side expression —
    # filtering first means only TRUE pairs (× their band multiplicity)
    # reach the distinct exchange, instead of every false candidate too.
    # hamming is a pure function of the pair, so distinct semantics match.
    return (
        cand.filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
    )


def image_near_dup(
    decoded: DataFrame,
    max_hamming: int = 6,
    id_col: str = "path",
    n_bands: int = 8,
) -> DataFrame:
    """pHash + hamming blocking in one call over ``decode_images`` output."""
    return hamming_pairs(
        phash_images(decoded),
        max_hamming=max_hamming,
        id_col=id_col,
        n_bands=n_bands,
    )


def rollup_frame_pairs(
    fpairs: DataFrame, min_shared_frames: int = 1
) -> DataFrame:
    """Frame-level near-dup pairs → track-level pairs: strip OUR appended
    ``#<frame_index>`` suffix (at the LAST '#', so ids that themselves
    contain '#' survive), count DISTINCT matched frames of the
    lexically-first track (a static shot repeated k times would otherwise
    inflate one shared frame into k² "shared frames"), keep pairs sharing
    ≥ ``min_shared_frames``. Shared by the video and audio rollups —
    aggregates only the (output-sized) frame-pair rows."""
    vid_a = F.expr("substring(id_a, 1, length(id_a) - length(substring_index(id_a, '#', -1)) - 1)")
    vid_b = F.expr("substring(id_b, 1, length(id_b) - length(substring_index(id_b, '#', -1)) - 1)")
    first_fid = F.when(vid_a <= vid_b, F.col("id_a")).otherwise(F.col("id_b"))
    return (
        fpairs.select(
            F.least(vid_a, vid_b).alias("track_a"),
            F.greatest(vid_a, vid_b).alias("track_b"),
            first_fid.alias("_fa"),
        )
        .filter(F.col("track_a") != F.col("track_b"))
        .groupBy("track_a", "track_b")
        .agg(F.count_distinct("_fa").alias("n_shared_frames"))
        .filter(F.col("n_shared_frames") >= min_shared_frames)
    )


def video_near_dup(
    files: DataFrame,
    max_hamming: int = 6,
    min_shared_frames: int = 1,
    every_n: int = 30,
    n_bands: int = 8,
) -> DataFrame:
    """Video-level near-duplicates: sample frames
    (``pipelines.multimodal.sample_video_frames`` — real codec when
    available, deterministic fakes otherwise), pHash every frame, band-join
    frame pairs, then roll frame matches up to (video_a, video_b,
    n_shared_frames) keeping pairs sharing ≥ ``min_shared_frames``
    near-dup frames. The standard shot-level dedup shape: all corpus-sized
    steps are the map-only hash pass and ONE linear band shuffle; the
    rollup aggregates only the (output-sized) frame-pair rows."""
    from photo_vector_search_spark.pipelines.multimodal import (
        sample_video_frames,
    )

    frames = sample_video_frames(files, every_n=every_n).filter(
        F.col("error") == ""
    )
    fids = frames.select(
        F.concat_ws("#", F.col("path"), F.col("frame_index")).alias("fid"),
        F.col("frame").alias("content"),
    )
    hashed = phash_images(fids, content_col="content")
    # n_bands rides through so thresholds past n_bands-1 stay expressible
    # (the completeness guard demands n_bands > max_hamming)
    fpairs = hamming_pairs(
        hashed, max_hamming=max_hamming, id_col="fid", n_bands=n_bands
    )
    return (
        rollup_frame_pairs(fpairs, min_shared_frames=min_shared_frames)
        .withColumnRenamed("track_a", "video_a")
        .withColumnRenamed("track_b", "video_b")
    )
