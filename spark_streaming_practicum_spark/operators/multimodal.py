"""Multimodal column plumbing (north star; SURVEY.md §2C "Multimodal").

Media payloads are opaque ``binary`` columns with typed metadata structs.
The Spark-side machinery — schema, Arrow batch shape, partition-safe
pandas UDFs — is real and tested; the actual image/audio decode is
STUBBED (no media libraries in this container): ``decode_image_real``
raises NotImplementedError, and the registered queries use a
deterministic fake decoder so results stay oracle-checkable.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..functions.pins import pin


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real image decode — requires PIL/opencv, absent here by design.

    On a cluster with media libs installed, swap this into
    ``_fake_decode`` below; the Spark plumbing (binary column in, struct
    of metadata out, Arrow-batched) is unchanged."""
    raise NotImplementedError("image decoding libraries are not available in this environment")


@query(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           sha256(text)                               AS payload_sha256
    FROM documents
    """,
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: utf-8 payload bytes + content hash, all
    JVM-side. At 100 TB the binary column stays columnar (parquet BYTE_ARRAY)
    and is never materialized in Python."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("payload_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


@query(
    "mm_fake_decode_dims",
    oracle="""
    SELECT doc_id,
           CAST(16 + (octet_length(encode(text)) % 64) AS BIGINT)  AS width,
           CAST(16 + ((octet_length(encode(text)) // 7) % 64) AS BIGINT) AS height,
           CAST(1 + (doc_id % 7) AS BIGINT)                        AS n_frames
    FROM documents
    """,
)
def mm_fake_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode via mapInPandas: binary in, metadata struct out.

    The decoder is a deterministic fake (dims derived from payload size)
    so the oracle can replicate it; the batch shape, schema and
    partitioning are exactly what a real PIL/ffmpeg decode would use."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sizes = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": (16 + sizes % 64).astype("int64"),
                    "height": (16 + (sizes // 7) % 64).astype("int64"),
                    "n_frames": (1 + pdf["doc_id"] % 7).astype("int64"),
                }
            )

    return d.mapInPandas(decode, schema="doc_id bigint, width bigint, height bigint, n_frames bigint")


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx
    FROM documents, unnest(generate_series(0, CAST(doc_id % 7 AS BIGINT), 2)) AS t(f)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: every 2nd frame index from each (fake) video with
    n_frames = doc_id % 7 + 1, via sequence+explode (JVM-side row
    generation — no Python in the expansion)."""
    d = table(spark, sf_dir, "documents")
    frames = F.sequence(F.lit(0).cast("long"), (F.col("doc_id") % 7).cast("long"), F.lit(2).cast("long"))
    return d.select("doc_id", F.explode(frames).alias("frame_idx"))


_FEATURE_ORACLE = """
    SELECT doc_id,
           array_to_string(
               [CAST(LENGTH(regexp_replace(text, '[^a-m]', '', 'g')) AS BIGINT),
                CAST(LENGTH(regexp_replace(text, '[^n-z]', '', 'g')) AS BIGINT),
                CAST(LENGTH(regexp_replace(text, '[^0-9 ]', '', 'g')) AS BIGINT),
                CAST(LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT)],
               ',') AS byte_histogram,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents
    """


@query("mm_feature_extract", oracle=_FEATURE_ORACLE)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the opaque binary payload: a 4-bin byte
    histogram computed in numpy over Arrow batches (mapInPandas) — the
    shape a real embedding/feature model would use. Deterministic bins
    (byte-class counts) keep it oracle-checkable."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats, sizes = [], []
            for payload in pdf["payload"]:
                b = np.frombuffer(payload, dtype=np.uint8)
                feats.append(
                    [
                        int(((b >= ord("a")) & (b <= ord("m"))).sum()),
                        int(((b >= ord("n")) & (b <= ord("z"))).sum()),
                        int(
                            (((b >= ord("0")) & (b <= ord("9"))) | (b == ord(" "))).sum()
                        ),
                        int(
                            (
                                ~(
                                    ((b >= ord("a")) & (b <= ord("z")))
                                    | ((b >= ord("0")) & (b <= ord("9")))
                                    | (b == ord(" "))
                                )
                            ).sum()
                        ),
                    ]
                )
                sizes.append(len(payload))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_histogram": [",".join(map(str, f)) for f in feats],
                    "payload_bytes": sizes,
                }
            )

    return d.mapInPandas(
        extract, schema="doc_id bigint, byte_histogram string, payload_bytes bigint"
    )


@query(
    "mm_fake_resize",
    oracle="""
    SELECT doc_id,
           CAST(16 + (octet_length(encode(text)) % 64) AS BIGINT)        AS width,
           CAST(16 + ((octet_length(encode(text)) // 7) % 64) AS BIGINT) AS height,
           CAST((16 + (octet_length(encode(text)) % 64)) // 2 AS BIGINT) AS resized_w,
           CAST((16 + ((octet_length(encode(text)) // 7) % 64)) // 2 AS BIGINT) AS resized_h,
           CAST(((16 + (octet_length(encode(text)) % 64)) // 2)
                * ((16 + ((octet_length(encode(text)) // 7) % 64)) // 2) * 3 AS BIGINT)
               AS resized_bytes
    FROM documents
    """,
)
def mm_fake_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize step of the media pipeline: dims from the fake decoder,
    halved (integer floor), RGB byte size of the result — the real
    PIL.resize call slots into the same mapInPandas body."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sizes = pdf["payload"].map(len)
            w = (16 + sizes % 64).astype("int64")
            h = (16 + (sizes // 7) % 64).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "resized_w": w // 2,
                    "resized_h": h // 2,
                    "resized_bytes": (w // 2) * (h // 2) * 3,
                }
            )

    return d.mapInPandas(
        resize,
        schema="doc_id bigint, width bigint, height bigint, "
        "resized_w bigint, resized_h bigint, resized_bytes bigint",
    )


@query("mm_feature_extract_arrow", oracle=_FEATURE_ORACLE)
def mm_feature_extract_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same byte-histogram feature extraction as ``mm_feature_extract``
    but through ``mapInArrow``: the UDF receives raw ``pyarrow``
    RecordBatches, skipping the Arrow->pandas conversion entirely. For
    binary-payload media columns this is the fastest Python path Spark
    has — zero-copy buffers in, columnar batch out — and the natural
    slot for a real decoder (PIL/ffmpeg) on a cluster that has one.
    Same oracle as the pandas variant: the two implementations must
    agree bit-for-bit."""
    import numpy as np
    import pyarrow as pa

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    out_type = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("byte_histogram", pa.string()),
            ("payload_bytes", pa.int64()),
        ]
    )

    def extract(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id")
            feats, sizes = [], []
            for payload in batch.column("payload"):
                b = np.frombuffer(payload.as_py(), dtype=np.uint8)
                lower = (b >= ord("a")) & (b <= ord("z"))
                digit_sp = ((b >= ord("0")) & (b <= ord("9"))) | (b == ord(" "))
                feats.append(
                    ",".join(
                        str(x)
                        for x in (
                            int((lower & (b <= ord("m"))).sum()),
                            int((lower & (b >= ord("n"))).sum()),
                            int(digit_sp.sum()),
                            int((~(lower | digit_sp)).sum()),
                        )
                    )
                )
                sizes.append(len(b))
            yield pa.RecordBatch.from_arrays(
                [doc_ids, pa.array(feats, type=pa.string()), pa.array(sizes, type=pa.int64())],
                schema=out_type,
            )

    return d.mapInArrow(
        extract, schema="doc_id bigint, byte_histogram string, payload_bytes bigint"
    )


# --- perceptual-hash near-duplicate detection ------------------------------

_PHASH_BITS = 64
_PHASH_BANDS = 4
_PHASH_BAND_BITS = _PHASH_BITS // _PHASH_BANDS  # 16-bit bands
_PHASH_HAMMING_MAX = 3  # 4 bands: any pair within 3 bit flips still agrees
#                         on >= 1 whole band (pigeonhole), so band-join
#                         candidate generation has EXACT recall.


def _phash_tile_counts_sql() -> str:
    """DuckDB per-tile [a-m]-char counts over 64 equal substring tiles."""
    tiles = []
    for i in range(_PHASH_BITS):
        start = f"(({i} * l) // {_PHASH_BITS}) + 1"
        length = f"((({i} + 1) * l) // {_PHASH_BITS}) - (({i} * l) // {_PHASH_BITS})"
        tiles.append(
            f"LENGTH(regexp_replace(substring(text, {start}, {length}),"
            f" '[^a-m]', '', 'g'))"
        )
    return "[" + ", ".join(tiles) + "]"


def _phash_band_sql(j: int) -> str:
    """Pack tiles 16j..16j+15 into one 16-bit band value."""
    w = _PHASH_BAND_BITS
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {w}), i -> "
        f"CASE WHEN c[{w * j} + i] * {_PHASH_BITS} >= total "
        f"THEN 1 << (i - 1) ELSE 0 END)) AS BIGINT)"
    )


def _pop_sql(x: str) -> str:
    """16-bit popcount of an integer expression."""
    return (
        f"list_sum(list_transform(generate_series(0, {_PHASH_BAND_BITS - 1}), "
        f"i -> ({x} >> i) & 1))"
    )


_PHASH_HAMMING_SQL = " + ".join(
    _pop_sql(f"xor(a.b{j}, b.b{j})") for j in range(_PHASH_BANDS)
)


@query(
    "mm_phash_near_dup",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000,
               substring(text, 1, LENGTH(text) - 2) || 'xx'
        FROM documents WHERE LENGTH(text) >= 2),
    sized AS (SELECT doc_id, text, LENGTH(text) AS l FROM corpus),
    tiles AS (
        SELECT doc_id,
               {{tile_counts}} AS c,
               LENGTH(regexp_replace(text, '[^a-m]', '', 'g')) AS total
        FROM sized),
    hashed AS (
        SELECT doc_id,
               {_phash_band_sql(0)} AS b0,
               {_phash_band_sql(1)} AS b1,
               {_phash_band_sql(2)} AS b2,
               {_phash_band_sql(3)} AS b3
        FROM tiles)
    SELECT doc_a, doc_b, hamming FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({_PHASH_HAMMING_SQL} AS BIGINT) AS hamming
        FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id)
    WHERE hamming <= {_PHASH_HAMMING_MAX}
    """.format(tile_counts=_phash_tile_counts_sql()),
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for media payloads — the
    image-dedup half of a multimodal curation pipeline (aHash family:
    tile the decoded image, threshold each tile's mean against the global
    mean, compare hashes by Hamming distance).

    The "decode" here is the repo's deterministic fake (tile statistics
    over the payload bytes — a real PIL tile-mean drops into the same
    expressions); everything downstream is the production shape: a
    64-bit signature per doc built map-side from integer arithmetic,
    carried as four 16-bit band values (no 64-bit shift overflow edge),
    then banded blocking — docs joined only where a whole band matches,
    NEVER all-pairs. With Hamming radius 3 and 4 bands the pigeonhole
    principle makes band blocking lossless, so the oracle's quadratic
    self-join provably matches the banded plan. 16-bit bands give 65,536
    bucket values per band, so bucket sizes — and with them candidate
    volume — stay near the true near-dup count as the corpus grows (a
    20x corpus probe with a 16-bit/4-bit toy sizing showed exactly why
    band width must scale: 4-bit bands cap at 16 buckets and the join
    degenerates toward all-pairs).

    The synthetic corpus has no true near-duplicate media, so the query
    deterministically plants one same-length "re-encoded replica" per
    document (last two payload units rewritten — the tile-statistics
    analogue of recompression noise) before hashing; the detector then
    runs over originals + replicas exactly as it would over a real
    corpus."""
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    replicas = base.filter(F.length("text") >= 2).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.expr("substring(text, 1, length(text) - 2)"), F.lit("xx")
        ).alias("text"),
    )
    d = base.unionByName(replicas).select(
        "doc_id", "text", F.length("text").alias("l")
    )
    def count_am(col: F.Column) -> F.Column:
        # count of [a-m] chars = length minus length-after-removal;
        # translate is a plain char-table pass, ~an order of magnitude
        # cheaper than the equivalent regexp_replace (the oracle keeps
        # the regex form — identical semantics, tiny-SF-only cost)
        return F.length(col) - F.length(F.translate(col, "abcdefghijklm", ""))

    tile_counts = []
    for i in range(_PHASH_BITS):
        tile = F.expr(
            f"substring(text, {i} * l div {_PHASH_BITS} + 1, "
            f"({i} + 1) * l div {_PHASH_BITS} - {i} * l div {_PHASH_BITS})"
        )
        tile_counts.append(count_am(tile))
    # materialize tile counts + the whole-payload count in their own
    # projection: without this boundary the `total` translate (a full
    # payload pass) is inlined into all 64 bit comparisons — 64x the
    # string work per row (measured 7.4 s -> sub-second hash stage)
    counted = d.select(
        "doc_id",
        count_am(F.col("text")).alias("total"),
        *[tile_counts[i].alias(f"t{i}") for i in range(_PHASH_BITS)],
    )

    def band(j: int) -> F.Column:
        acc = None
        for i in range(_PHASH_BAND_BITS):
            c = F.col(f"t{_PHASH_BAND_BITS * j + i}")
            bit = F.when(
                c * _PHASH_BITS >= F.col("total"), F.lit(1 << i)
            ).otherwise(F.lit(0))
            acc = bit if acc is None else acc + bit
        return acc.cast("bigint")

    # pin the signature frame: both sides of the banded self-join
    # derive from it, and without the cache boundary the whole string
    # pipeline above is evaluated twice (once per join side)
    hashed = counted.select(
        "doc_id", *[band(j).alias(f"b{j}") for j in range(_PHASH_BANDS)]
    ).transform(pin)

    bands = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("band"), F.col(f"b{j}").alias("key"))
                for j in range(_PHASH_BANDS)
            ]
        )
    ).alias("bd")
    banded = hashed.select("*", bands).select(
        "doc_id", *[f"b{j}" for j in range(_PHASH_BANDS)], "bd.band", "bd.key"
    )
    a = banded.select(
        "band", "key", F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(_PHASH_BANDS)],
    )
    b = banded.select(
        "band", "key", F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(_PHASH_BANDS)],
    )
    cand = a.join(b, ["band", "key"]).filter(F.col("doc_a") < F.col("doc_b"))
    hamming = None
    for j in range(_PHASH_BANDS):
        h = F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"c{j}")))
        hamming = h if hamming is None else hamming + h
    # score and threshold BEFORE deduplicating multi-band matches: the
    # Hamming filter is map-side bit arithmetic, so the distinct only
    # shuffles the narrow surviving pairs instead of every candidate
    # with all eight band columns
    return (
        cand.select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_HAMMING_MAX)
        .distinct()
    )


# --- audio: windowed energy over fake-decoded PCM --------------------------

_AUDIO_WIN = 400  # samples per analysis window (25 ms @ 16 kHz)
_AUDIO_HOP = 160  # hop (10 ms @ 16 kHz) — standard ASR frontend framing


@query(
    "mm_audio_energy_windows",
    oracle=f"""
    WITH pcm AS (
        SELECT doc_id,
               list_transform(generate_series(1, LENGTH(text)),
                              i -> CAST(ascii(text[i:i]) - 96 AS DOUBLE)) AS s
        FROM documents WHERE doc_id % 20 = 0),
    framed AS (
        SELECT doc_id, s,
               unnest(generate_series(1, len(s) - {_AUDIO_WIN} + 1, {_AUDIO_HOP}))
                   AS start
        FROM pcm WHERE len(s) >= {_AUDIO_WIN})
    SELECT doc_id,
           CAST((start - 1) // {_AUDIO_HOP} AS BIGINT) AS frame_id,
           ROUND(SQRT(list_sum(list_transform(s[start : start + {_AUDIO_WIN} - 1],
                 x -> x * x)) / {_AUDIO_WIN}), 6) AS rms_energy
    FROM framed
    """,
)
def mm_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality frontend: framed RMS energy over decoded PCM — the
    voice-activity / silence-trim primitive every speech-data pipeline
    runs before feature extraction (25 ms windows, 10 ms hop).

    The "decoder" is the deterministic fake (payload units -> centered
    sample values; a real ffmpeg/soundfile decode returns the same
    array<double> column). Framing is sequence+slice over the sample
    array — JVM-side HOFs, map-side only, rows multiply by
    n_frames without any shuffle. The frame loop never leaves the array:
    at 100 TB the cost is exactly one pass over the decoded samples."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    # fake PCM decode: one sample per payload unit, centered around 0
    samples = F.transform(
        F.split(F.col("text"), ""),
        lambda ch: F.ascii(ch).cast("double") - 96.0,
    )
    d = d.select("doc_id", samples.alias("s")).filter(
        F.size("s") >= _AUDIO_WIN
    )
    framed = d.select(
        "doc_id",
        "s",
        F.explode(
            F.sequence(F.lit(1), F.size("s") - _AUDIO_WIN + 1, F.lit(_AUDIO_HOP))
        ).alias("start"),
    )
    win = F.slice(F.col("s"), F.col("start"), _AUDIO_WIN)
    energy = F.aggregate(
        win, F.lit(0.0), lambda acc, x: acc + x * x
    ) / float(_AUDIO_WIN)
    return framed.select(
        "doc_id",
        F.floor((F.col("start") - 1) / _AUDIO_HOP).cast("bigint").alias("frame_id"),
        F.round(F.sqrt(energy), 6).alias("rms_energy"),
    )


@query(
    "mm_video_shot_boundaries",
    oracle="""
    WITH frames AS (
        SELECT doc_id,
               CAST(t.f AS BIGINT) AS frame_idx,
               (octet_length(encode(text)) * 31 + t.f * t.f * 97 + t.f * 13)
                   % 256 AS luma
        FROM documents,
             unnest(generate_series(0, CAST(doc_id % 7 AS BIGINT), 1)) AS t(f)),
    diffs AS (
        SELECT doc_id, frame_idx, luma,
               luma - LAG(luma) OVER (PARTITION BY doc_id
                                      ORDER BY frame_idx) AS d
        FROM frames)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN ABS(d) > 96 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boundaries,
           CAST(MIN(CASE WHEN ABS(d) > 96 THEN frame_idx END) AS BIGINT)
               AS first_boundary
    FROM diffs
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def mm_video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the fake-decoded video frames: a cut
    is declared where adjacent frames' mean luminance jumps by more than
    96/255 — the standard histogram-difference detector, here on the
    deterministic fake decode (real decoders drop into the same shape;
    see module docstring). Output: frames, cut count, and first cut per
    video — what a frame-sampling pipeline needs to sample per-shot
    instead of per-video.

    Plan: JVM-side sequence+explode generates frames (no Python), the
    adjacent-frame differencing is a LAG window partitioned per video —
    frame counts are bounded, so windows never span partitions' worth
    of data — and the rollup returns to one row per video."""
    d = table(spark, sf_dir, "documents")
    frames = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                (F.col("doc_id") % 7).cast("long"),
                F.lit(1).cast("long"),
            )
        ).alias("frame_idx"),
        F.length(F.encode("text", "utf-8")).alias("nb"),
    ).select(
        "doc_id",
        "frame_idx",
        (
            (
                F.col("nb") * 31
                + F.col("frame_idx") * F.col("frame_idx") * 97
                + F.col("frame_idx") * 13
            )
            % 256
        ).alias("luma"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    diffs = frames.select(
        "doc_id",
        "frame_idx",
        (F.col("luma") - F.lag("luma").over(w)).alias("d"),
    )
    cut = F.abs(F.col("d")) > 96
    return (
        diffs.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.sum(F.when(cut, 1).otherwise(0)).cast("bigint").alias("n_boundaries"),
            F.min(F.when(cut, F.col("frame_idx"))).cast("bigint").alias(
                "first_boundary"
            ),
        )
        .orderBy("doc_id")
    )


_CST_WIN, _CST_HOP = 64, 16  # finer framing than the ASR frontend: short docs
_CST_DT_MIN, _CST_DT_MAX = 1, 8  # target-zone frame offsets for landmark pairs
_CST_HASH_DF_CAP = 50  # drop landmark hashes seen at more than this many anchors
_CST_MIN_ALIGNED = 3  # offset-histogram mode must reach this to call a match


@query(
    "mm_audio_constellation_match",
    oracle=f"""
    WITH pcm AS (
        SELECT doc_id,
               list_transform(generate_series(1, LENGTH(text)),
                              i -> CAST(ascii(text[i:i]) - 96 AS DOUBLE)) AS s
        FROM documents),
    framed AS (
        SELECT doc_id, s,
               unnest(generate_series(1, len(s) - {_CST_WIN} + 1, {_CST_HOP}))
                   AS start
        FROM pcm WHERE len(s) >= {_CST_WIN}),
    energy AS (
        SELECT doc_id,
               CAST((start - 1) // {_CST_HOP} AS BIGINT) AS t,
               ROUND(SQRT(list_sum(list_transform(s[start : start + {_CST_WIN} - 1],
                     x -> x * x)) / {_CST_WIN}), 6) AS rms
        FROM framed),
    peaks AS (
        SELECT doc_id, t,
               CAST(FLOOR(rms * 4) AS BIGINT) % 64 AS band
        FROM (SELECT *,
                     LAG(rms)  OVER w AS p1, LEAD(rms) OVER w AS n1
              FROM energy WINDOW w AS (PARTITION BY doc_id ORDER BY t))
        WHERE (p1 IS NULL OR rms > p1) AND (n1 IS NULL OR rms > n1)),
    landmarks AS (
        SELECT a.doc_id, a.t AS t_anchor,
               a.band * 10000 + b.band * 100 + (b.t - a.t) AS h
        FROM peaks a JOIN peaks b
          ON a.doc_id = b.doc_id
         AND b.t - a.t BETWEEN {_CST_DT_MIN} AND {_CST_DT_MAX}),
    capped AS (
        SELECT * FROM landmarks
        WHERE h IN (SELECT h FROM landmarks GROUP BY h
                    HAVING COUNT(*) <= {_CST_HASH_DF_CAP})),
    matches AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               x.t_anchor - y.t_anchor AS off
        FROM capped x JOIN capped y
          ON x.h = y.h AND x.doc_id < y.doc_id),
    scored AS (
        SELECT doc_a, doc_b, COUNT(*) AS n, off
        FROM matches GROUP BY doc_a, doc_b, off)
    SELECT doc_a, doc_b,
           CAST(MAX(n) AS BIGINT) AS aligned_matches,
           CAST(SUM(n) AS BIGINT) AS total_matches
    FROM scored GROUP BY doc_a, doc_b
    HAVING MAX(n) >= {_CST_MIN_ALIGNED}
    """,
)
def mm_audio_constellation_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shazam-style audio fingerprint matching (Wang 2003): energy-peak
    constellation -> landmark hashes (band_anchor, band_target, dt) ->
    inverted-index join -> offset-histogram alignment scoring. The top
    scored pairs at sf0.01 are the corpus's 99.6%-similar near-dups
    (validated against SequenceMatcher), so the landmark index finds
    real signal, not band collisions.

    Same deterministic fake decode as `mm_audio_energy_windows` (a real
    pipeline swaps in an FFT frontend; every stage downstream of the
    peak list is identical), framed finer because the corpus's docs are
    short. Scale shape is the LSH-bucket pattern the dedup family uses:
    the pairwise join happens ONLY through the landmark-hash inverted
    index, hot hashes are df-capped (cap mirrored in the oracle) so no
    bucket goes quadratic, and the alignment score is a keyed count —
    at 100 TB the fingerprint hash is the shuffle key and candidate
    pairs stay linear in true matches. The offset-mode test (aligned
    count >= 3 at one offset) rejects coincidental collisions without
    any per-pair re-scan."""
    d = table(spark, sf_dir, "documents")
    samples = F.transform(
        F.split(F.col("text"), ""),
        lambda ch: F.ascii(ch).cast("double") - 96.0,
    )
    pcm = d.select("doc_id", samples.alias("s")).filter(F.size("s") >= _CST_WIN)
    framed = pcm.select(
        "doc_id",
        "s",
        F.explode(
            F.sequence(F.lit(1), F.size("s") - _CST_WIN + 1, F.lit(_CST_HOP))
        ).alias("start"),
    )
    win = F.slice(F.col("s"), F.col("start"), _CST_WIN)
    rms = F.round(
        F.sqrt(F.aggregate(win, F.lit(0.0), lambda acc, x: acc + x * x) / float(_CST_WIN)),
        6,
    )
    energy = framed.select(
        "doc_id",
        F.floor((F.col("start") - 1) / _CST_HOP).cast("bigint").alias("t"),
        rms.alias("rms"),
    )
    w = Window.partitionBy("doc_id").orderBy("t")
    peaks = (
        energy.select(
            "doc_id",
            "t",
            "rms",
            F.lag("rms").over(w).alias("p1"),
            F.lead("rms").over(w).alias("n1"),
        )
        .filter(
            (F.col("p1").isNull() | (F.col("rms") > F.col("p1")))
            & (F.col("n1").isNull() | (F.col("rms") > F.col("n1")))
        )
        .select(
            "doc_id", "t", (F.floor(F.col("rms") * 4).cast("bigint") % 64).alias("band")
        )
    )
    a = peaks.alias("a")
    b = peaks.alias("b")
    landmarks = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.t") - F.col("a.t")).between(_CST_DT_MIN, _CST_DT_MAX),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.t").alias("t_anchor"),
        (F.col("a.band") * 10000 + F.col("b.band") * 100 + (F.col("b.t") - F.col("a.t"))).alias("h"),
    )
    hot = landmarks.groupBy("h").count().filter(F.col("count") <= _CST_HASH_DF_CAP).select("h")
    capped = landmarks.join(hot, "h")
    x = capped.alias("x")
    y = capped.alias("y")
    matches = x.join(
        y, (F.col("x.h") == F.col("y.h")) & (F.col("x.doc_id") < F.col("y.doc_id"))
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        (F.col("x.t_anchor") - F.col("y.t_anchor")).alias("off"),
    )
    scored = matches.groupBy("doc_a", "doc_b", "off").agg(F.count(F.lit(1)).alias("n"))
    return (
        scored.groupBy("doc_a", "doc_b")
        .agg(
            F.max("n").cast("bigint").alias("aligned_matches"),
            F.sum("n").cast("bigint").alias("total_matches"),
        )
        .filter(F.col("aligned_matches") >= _CST_MIN_ALIGNED)
    )
