"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery — schema, partition-preserving batch
iteration, Arrow-batched UDF signatures — is real and tested. The
actual codec step (image decode, audio resample, frame sampling) is
stubbed behind ``DECODERS`` with a deterministic fake, because codec
libraries are not in this image; swapping in PIL/librosa/PyAV changes
ONE function, not the pipeline.

Pattern: ``mapInPandas`` over a DataFrame with a ``content: binary``
column. Each Arrow batch stays columnar into pandas; per-batch
processing amortizes Python overhead; the output schema is declared
up front so downstream plans stay fully typed.

At 100 TB: binary payloads dominate row size — keep
``spark.sql.files.maxPartitionBytes`` small enough that a partition of
blobs fits executor memory, and push metadata-only predicates (format,
size bounds) BEFORE the decode stage so pruning happens on the cheap
columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qms_datawarehouse_spark.planaudit import checkpoint_result
from qms_datawarehouse_spark.plans.registry import query, tables
from qms_datawarehouse_spark.session import spread

FEATURE_SCHEMA = (
    "doc_id long, format string, n_bytes long, checksum string, "
    "width long, height long"
)


def fake_decode(content: bytes) -> tuple[int, int]:
    """STUB decode: deterministic fake dimensions derived from the
    payload. Replace with a real codec (PIL.Image.open etc.) when the
    library is available — the surrounding pipeline is unchanged."""
    if not content:
        return (0, 0)
    return (64 + content[0] % 64, 64 + content[-1] % 64)


def pil_decode(content: bytes) -> tuple[int, int]:
    """REAL image decode via Pillow — same signature as the stub, so
    it slots straight into ``extract_features_with``. Importable only
    when the codec library exists in the image; exercised by
    tests/test_multimodal.py::test_real_decode_when_pillow_present,
    which auto-skips otherwise."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(content)) as im:
        return (im.width, im.height)


def extract_features_with(decode):
    """Feature-extraction kernel with a pluggable decode step — the
    seam a real codec (``pil_decode``) drops into. Everything
    Spark-side (Arrow batching, output schema, pre-decode metadata
    pruning, partitioning) is identical for stub and real decode."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            dims = pdf["content"].map(decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["format"],
                    "n_bytes": pdf["content"].map(len),
                    "checksum": pdf["content"].map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                    "width": dims.map(lambda d: d[0]),
                    "height": dims.map(lambda d: d[1]),
                }
            )

    return gen


# the oracle-checked default: deterministic stub arithmetic
extract_features = extract_features_with(fake_decode)


def with_binary_content(
    documents: DataFrame, spread_rows: bool = True
) -> DataFrame:
    """Model the corpus as multimodal rows: text bytes stand in for an
    opaque media payload + typed metadata columns.

    Spread to cluster parallelism first (``session.spread``): every
    decode stage in this module (mapInPandas dHash/audio-fp/feature
    kernels) consumes this frame, and a single-file corpus reads as
    ONE partition — which ran the whole Python decode pass on one
    core (measured: dedup_cross_modal_agreement spent 4×1.1 s in
    single-task stages). A multi-file corpus at scale already has
    ≥ parallelism partitions and skips the shuffle.

    ``spread_rows=False`` opts a consumer out: the two
    feature-extraction rows run exactly ONE cheap kernel pass, and the
    round-14 A/B measured the spread's round-robin exchange costing
    more than the parallelism saved there (multimodal_features_arrow
    0.30 → 0.52 s) while every multi-pass consumer
    (dHash/audio-fp/cross-modal) kept it a win."""
    src = spread(documents) if spread_rows else documents
    return src.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("fake/blob").alias("format"),
    )


# The stub decode is deterministic arithmetic over the payload bytes,
# so the whole feature row — not just counts — is SQL-expressible:
# n_bytes = octet_length of the UTF-8 encoding, checksum = md5 of the
# same bytes, width/height = 64 + (first/last byte % 64) recovered by
# parsing the hex dump. A real codec would drop width/height back to a
# rows-only check; everything else stays verifiable.
_FEATURES_SQL = """
    WITH b AS (
        SELECT doc_id,
               'fake/blob' AS format,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS checksum,
               hex(encode(text)) AS h
        FROM documents
        WHERE octet_length(encode(text)) > 0
    )
    SELECT doc_id, format, n_bytes, checksum,
           64 + CAST('0x' || substr(h, 1, 2) AS BIGINT) % 64 AS width,
           64 + CAST('0x' || right(h, 2) AS BIGINT) % 64 AS height
    FROM b
"""


@query("multimodal_features", _FEATURES_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas: metadata
    filter (pushed before decode) → Arrow-batched stub decode →
    typed feature rows."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = with_binary_content(documents, spread_rows=False)  # one cheap pass
    # metadata-only predicate BEFORE the decode stage
    blobs = blobs.filter(F.length("content") > 0)
    return blobs.mapInPandas(extract_features, schema=FEATURE_SCHEMA)


# --------------------------------------------------------------------
# Modality-typed pipeline: image resize / audio features / video
# frame sampling, dispatched per modality over one binary column
# --------------------------------------------------------------------

MEDIA_SCHEMA = (
    "doc_id long, modality string, content binary, "
    "meta struct<mime: string, n_bytes: long, duration_ms: long>"
)

IMAGE_OUT = "doc_id long, width long, height long, resized_bytes long"
AUDIO_OUT = "doc_id long, duration_ms long, rms long, n_frames long"
VIDEO_OUT = "doc_id long, frame_idx long, frame_checksum string"

TARGET_SIZE = 32  # stub resize target (px)
FRAME_EVERY_MS = 1000  # sample one frame per second


def as_media(documents: DataFrame) -> DataFrame:
    """Model the corpus as a multimodal table: opaque binary payload +
    a typed metadata struct, modality assigned deterministically. At
    scale this is the storage layout — metadata in queryable columns,
    payload as one opaque binary, table partitioned by modality so a
    per-modality pipeline prunes partitions."""
    mod = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        "doc_id",
        mod.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.concat(F.lit("fake/"), mod).alias("mime"),
            F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def resize_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB image decode+resize (PIL would slot in here): deterministic
    fake dims from the payload, 'resized' byte count scaled to the
    TARGET_SIZE box. Arrow-batched; one output row per image."""
    for pdf in batches:
        dims = pdf["content"].map(fake_decode)
        w = dims.map(lambda d: d[0])
        h = dims.map(lambda d: d[1])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": w,
                "height": h,
                "resized_bytes": (
                    pdf["content"].map(len) * (TARGET_SIZE * TARGET_SIZE) // (w * h)
                ),
            }
        )


def audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB audio feature extraction (librosa would slot in here):
    RMS-ish energy from payload bytes + frame count from metadata
    duration. One output row per clip."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "duration_ms": pdf["meta"].map(lambda m: m["duration_ms"]),
                "rms": pdf["content"].map(
                    lambda b: int(sum(b[:256]) / max(len(b[:256]), 1))
                ),
                "n_frames": pdf["meta"].map(
                    lambda m: m["duration_ms"] // FRAME_EVERY_MS
                ),
            }
        )


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB video frame sampling (PyAV would slot in here): emits one
    row per sampled frame (1 fps against metadata duration) — a
    row-EXPANDING mapInPandas stage, the shape real frame extraction
    needs. Frame checksum stands in for decoded frame bytes."""
    import hashlib

    for pdf in batches:
        out_ids, out_idx, out_sum = [], [], []
        for doc_id, content, meta in zip(
            pdf["doc_id"], pdf["content"], pdf["meta"]
        ):
            n = int(min(meta["duration_ms"] // FRAME_EVERY_MS, 10))
            for i in range(n):
                out_ids.append(doc_id)
                out_idx.append(i)
                out_sum.append(
                    hashlib.md5(content + i.to_bytes(4, "little")).hexdigest()
                )
        yield pd.DataFrame(
            {"doc_id": out_ids, "frame_idx": out_idx, "frame_checksum": out_sum}
        )


# Every stub stage is deterministic arithmetic over the payload bytes
# and metadata, so the per-modality summaries are fully SQL-checkable:
# image payload = Σ n_bytes·32² // (w·h) (dims from first/last byte),
# audio payload = Σ duration_ms // 1000, video = expanded frame rows
# capped at 10/doc. A real codec keeps the same plan shape but drops
# the decode-derived columns back to rows-only.
_PIPELINE_SQL = """
    WITH m AS (
        SELECT doc_id,
               ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
                   AS modality,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               hex(encode(text)) AS h,
               CAST(n_chars * 10 AS BIGINT) AS duration_ms
        FROM documents
    ),
    d AS (
        SELECT doc_id, modality, n_bytes, duration_ms,
               64 + CAST('0x' || substr(h, 1, 2) AS BIGINT) % 64 AS w,
               64 + CAST('0x' || right(h, 2) AS BIGINT) % 64 AS hgt
        FROM m
    )
    SELECT 'image' AS modality, count(*) AS n_items,
           CAST(sum(n_bytes * 1024 // (w * hgt)) AS BIGINT) AS payload
    FROM d WHERE modality = 'image'
    UNION ALL
    SELECT 'audio', count(*),
           CAST(sum(duration_ms // 1000) AS BIGINT)
    FROM d WHERE modality = 'audio'
    UNION ALL
    SELECT 'video',
           count(DISTINCT CASE WHEN least(duration_ms // 1000, 10) > 0
                               THEN doc_id END),
           CAST(sum(least(duration_ms // 1000, 10)) AS BIGINT)
    FROM d WHERE modality = 'video'
"""


@query("multimodal_pipeline", _PIPELINE_SQL)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality processing over one multimodal table: partition
    prune by modality, run the modality's Arrow-batched stage, union
    the typed summaries. Decode steps are deterministic stubs; the
    Spark plumbing (modality dispatch, metadata pushdown, expanding
    frame sampler) is real."""
    (documents,) = tables(spark, sf_dir, "documents")
    media = as_media(documents)

    images = (
        media.filter(F.col("modality") == "image")
        .mapInPandas(resize_images, schema=IMAGE_OUT)
        .agg(
            F.count("*").alias("n_items"),
            F.sum("resized_bytes").alias("payload"),
        )
        .select(F.lit("image").alias("modality"), "n_items", "payload")
    )
    audio = (
        media.filter(F.col("modality") == "audio")
        .mapInPandas(audio_features, schema=AUDIO_OUT)
        .agg(F.count("*").alias("n_items"), F.sum("n_frames").alias("payload"))
        .select(F.lit("audio").alias("modality"), "n_items", "payload")
    )
    video = (
        media.filter(F.col("modality") == "video")
        .mapInPandas(sample_frames, schema=VIDEO_OUT)
        .agg(
            F.countDistinct("doc_id").alias("n_items"),
            F.count("*").alias("payload"),
        )
        .select(F.lit("video").alias("modality"), "n_items", "payload")
    )
    return images.unionByName(audio).unionByName(video)


def extract_features_arrow(batches):
    """The same feature extraction at the RecordBatch level
    (``mapInArrow``): no pandas materialization, no Series boxing —
    the lowest-overhead Python hook Spark offers. Bytes come straight
    out of Arrow buffers; arrays go straight back."""
    import hashlib

    import pyarrow as pa

    for batch in batches:
        content = batch.column(
            batch.schema.get_field_index("content")
        ).to_pylist()
        dims = [fake_decode(b) for b in content]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(batch.schema.get_field_index("doc_id")),
                batch.column(batch.schema.get_field_index("format")),
                pa.array([len(b) for b in content], type=pa.int64()),
                pa.array([hashlib.md5(b).hexdigest() for b in content]),
                pa.array([d[0] for d in dims], type=pa.int64()),
                pa.array([d[1] for d in dims], type=pa.int64()),
            ],
            names=["doc_id", "format", "n_bytes", "checksum", "width",
                   "height"],
        )


@query("multimodal_features_arrow", _FEATURES_SQL)
def multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``multimodal_features`` on the ``mapInArrow`` surface — same
    oracle, so both Python batch APIs are value-checked to agree.
    Prefer this form when the decode library consumes raw buffers
    (image codecs, audio resamplers): it skips the pandas round-trip
    entirely."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = with_binary_content(documents, spread_rows=False).filter(
        F.length("content") > 0
    )  # one cheap pass — see with_binary_content's spread note
    return blobs.mapInArrow(extract_features_arrow, schema=FEATURE_SCHEMA)


# --------------------------------------------------------------------
# Perceptual-hash near-dup over the binary payload (dHash + banded
# Hamming LSH) — the dedup/similarity member of the multimodal family
# --------------------------------------------------------------------

IMAGE_GRID_W = 9  # thumbnail columns (dHash compares 8 neighbor pairs)
IMAGE_GRID_H = 8  # thumbnail rows → 64 difference bits
_PHASH_BANDS = 4  # 16 bits per band
_PHASH_T = 3  # max Hamming distance for a near-dup pair; see below

PHASH_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"


def fake_image_grid(content: bytes) -> list[int]:
    """STUB 'decode + thumbnail': a deterministic 8x9 grid of ints in
    [0, 255] from the payload bytes — the contract a real codec
    satisfies with an actual grayscale downsample (``pil_image_grid``
    below). The stub must be edit-robust the way a real thumbnail is
    (a small image edit perturbs few cells), so it cannot sample byte
    OFFSETS (any insertion shifts every later byte): it builds the
    bag of byte-bigram hashes (shift-invariant), sorts it, and takes
    72 quantile samples — near-identical payloads give near-identical
    grids, unrelated payloads decorrelate.

    Total over ALL payloads including b"": short inputs pad with NUL
    bytes to the 2 bytes one bigram needs (an empty payload grids to
    all-zeros, so every empty payload is a Hamming-0 dup of every
    other — the right dedup semantics), never an IndexError."""
    if len(content) < 2:
        content = (content + b"\x00\x00")[:2]
    v = sorted(
        (content[i] * 31 + content[i + 1]) % 256
        for i in range(len(content) - 1)
    )
    n = len(v)
    cells = IMAGE_GRID_W * IMAGE_GRID_H
    return [v[(n * k) // cells] for k in range(cells)]


def pil_image_grid(content: bytes) -> list[int]:
    """REAL thumbnail via Pillow — same 72-int contract as the stub,
    so it slots straight into ``dhash_bands_with``. Importable only
    when the codec library exists in the image (auto-skipped test,
    same seam as ``pil_decode``)."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(content)) as im:
        g = im.convert("L").resize((IMAGE_GRID_W, IMAGE_GRID_H))
        return list(g.getdata())


def dhash_bands_with(grid_fn):
    """dHash kernel with the pluggable thumbnail step: per payload,
    64 neighbor-comparison bits (cell[r][c] < cell[r][c+1]) packed as
    FOUR 16-bit band integers — never a signed-64 hash, so banding,
    XOR and bit_count behave identically in Spark and DuckDB. The bit
    math is vectorized numpy over the Arrow batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # bit j (0-based, j = r*8 + c) compares grid cell r*9+c with
        # its right neighbor; within band j//16 its weight is 2^(j%16)
        left = (np.arange(64) // 8) * IMAGE_GRID_W + (np.arange(64) % 8)
        weights = np.int64(1) << (np.arange(64) % 16)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "b0": [], "b1": [],
                     "b2": [], "b3": []}
                )
                continue
            G = np.stack(pdf["content"].map(grid_fn).to_numpy())
            bits = (G[:, left] < G[:, left + 1]).astype(np.int64)
            out = {"doc_id": pdf["doc_id"]}
            for i in range(_PHASH_BANDS):
                sl = slice(16 * i, 16 * (i + 1))
                out[f"b{i}"] = (bits[:, sl] * weights[sl]).sum(axis=1)
            yield pd.DataFrame(out)

    return gen


dhash_bands = dhash_bands_with(fake_image_grid)


def band_rows(
    ph: DataFrame,
    band_col: str = "band",
    value_col: str = "v",
    carry: tuple = (),
) -> DataFrame:
    """(doc_id, <band_col>, <value_col>): four rows per payload from a
    (doc_id, b0..b3) hash frame — the ONE derivation of the band
    layout, shared by the dedup query, the top-k probe, and the
    ingest gate's index (which renames to the MinHash-index column
    contract). Values cast to long so index hashing (xxhash64 is
    type-sensitive) sees one type everywhere. ``carry`` names extra
    ph columns to ride along each band row (the cross-modal audit
    carries the four hash ints so its Hamming verify needs no re-join
    against ph)."""
    return ph.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias(band_col),
                        F.col(f"b{i}").cast("long").alias(value_col),
                    )
                    for i in range(_PHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select(
        "doc_id",
        *carry,
        F.col(f"e.{band_col}").alias(band_col),
        F.col(f"e.{value_col}").alias(value_col),
    )


def _phash_bands_cte() -> str:
    """The stub pipeline re-derived in SQL, through the ``bands`` CTE:
    byte-bigram bag from the hex dump, sorted, 72 quantile samples,
    64 dHash bits, 4 band ints — shared by the dedup oracle (pair
    join) and the top-k oracle (probe query)."""
    cells = IMAGE_GRID_W * IMAGE_GRID_H
    byte = (
        "CAST('0x' || substr(h, 2 * CAST({i} AS INT) + 1, 2) AS INT)"
    )
    return f"""raw AS (
        SELECT doc_id,
               hex(CASE WHEN octet_length(encode(text)) < 2
                        THEN encode(text) || '\\x00'::BLOB
                        ELSE encode(text) END) AS h
        FROM documents
        WHERE octet_length(encode(text)) > 0
    ),
    bg AS (
        SELECT doc_id,
               list_sort(list_transform(
                   range(0, octet_length(from_hex(h)) - 1),
                   i -> ({byte.format(i="i")} * 31
                         + {byte.format(i="i + 1")}) % 256)) AS v
        FROM raw
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(0, {cells}),
                   k -> v[CAST((len(v) * k) // {cells} AS INT) + 1]) AS s
        FROM bg
    ),
    bits AS (
        SELECT doc_id,
               list_transform(range(0, 64), j ->
                   CASE WHEN s[(j // 8) * {IMAGE_GRID_W} + (j % 8) + 1]
                             < s[(j // 8) * {IMAGE_GRID_W} + (j % 8) + 2]
                        THEN 1 ELSE 0 END) AS bit
        FROM g
    ),
    bands AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 16),
                   j -> bit[j + 1] * (1 << j))) AS INT) AS b0,
               CAST(list_sum(list_transform(range(16, 32),
                   j -> bit[j + 1] * (1 << (j % 16)))) AS INT) AS b1,
               CAST(list_sum(list_transform(range(32, 48),
                   j -> bit[j + 1] * (1 << (j % 16)))) AS INT) AS b2,
               CAST(list_sum(list_transform(range(48, 64),
                   j -> bit[j + 1] * (1 << (j % 16)))) AS INT) AS b3
        FROM bits
    )"""


def _phash_oracle_sql() -> str:
    """Dedup oracle: the shared band pipeline + the brute-force
    Hamming pair join (the oracle may go all-pairs; the Spark plan
    must not)."""
    return f"""
    WITH {_phash_bands_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
               AS BIGINT) AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {_PHASH_T}
    ORDER BY doc_a, doc_b
    """


@query("dedup_image_phash", _phash_oracle_sql())
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the BINARY
    payload column — the image-dedup member of the multimodal family
    (typed pipeline and feature extraction live above; this row adds
    the dedup/similarity capability the LLM-pipeline brief asks for).

    Pipeline: pluggable thumbnail decode (``fake_image_grid`` stub /
    ``pil_image_grid`` real codec — the ``extract_features_with``
    seam) → dHash (64 neighbor-comparison bits over the 8x9 grid,
    packed as four 16-bit band ints) → banded LSH candidates → exact
    Hamming verify at T=3 (``_PHASH_T``).

    Banding is LOSSLESS here by pigeonhole: two hashes within Hamming
    distance 3 differ in at most 3 of the 4 bands, so at least one
    band matches exactly — the band equi-join generates every true
    pair, and the verify filter makes the banded plan value-identical
    to the oracle's brute-force all-pairs join.

    Scale shape: the decode+hash stage is one Arrow-batched map pass
    (metadata filter pushed before it); candidates come from a
    (band, value) equi-join over 4 rows/doc — sum(bucket^2) work,
    never all-pairs (measured max bucket occupancy 7 on the 500-doc
    fixture); the verify joins are doc-keyed equi-joins over the
    candidate set. The 64-bit hash never materializes as a signed
    bigint, so Spark and DuckDB agree bit for bit.

    Reference capability analog: none (reference stores raw blobs in
    Mongo, src/core/db.py; this is SURVEY §2.12's multimodal layer)."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = (
        with_binary_content(documents)
        .filter(F.length("content") > 0)
        .select("doc_id", "content")
    )
    ph = blobs.mapInPandas(dhash_bands, schema=PHASH_SCHEMA).persist()
    bands = band_rows(ph)
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "v")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "v"),
            ["band", "v"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = ph.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(_PHASH_BANDS)],
    )
    hb = ph.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(_PHASH_BANDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(_PHASH_BANDS)
    )
    out = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= _PHASH_T)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )
    res = checkpoint_result("dedup_image_phash", out, ph)
    # evidence guard (same contract as the top-k row): the fixture
    # carries real near-dup structure at every sf — an EMPTY pair set
    # hash-matching an empty oracle would be a vacuous green
    if not res.take(1):
        raise AssertionError(
            "dedup_image_phash: zero verified pairs — the fixture has "
            "near-dup structure at every sf; suspect a band-layout or "
            "thumbnail-kernel regression"
        )
    return res


# --------------------------------------------------------------------
# Perceptual-hash similarity SEARCH: banded probe + Hamming top-k
# --------------------------------------------------------------------

# fixture query payload: doc_id present at every sf AND sharing at
# least one band with neighbors at every sf (doc 7 had ZERO banded
# candidates at sf0.001 — an empty result verifies nothing)
_PHASH_QUERY_DOC = 2
_PHASH_TOPK = 10
# evidence floor: the banded probe must yield at least this many
# candidates or the query FAILS instead of returning a trivially-
# small result that would hash-match an equally-trivial oracle
# (measured: 8 candidates at sf0.001, 6 at sf0.01, 57 at sf0.1)
_PHASH_MIN_CANDIDATES = 3


def _phash_topk_sql() -> str:
    """Top-k oracle: the shared band pipeline, then the SAME banded
    candidate rule the Spark plan uses (share >= 1 of the 4 bands
    with the query payload) so both engines rank the identical
    candidate set — a banded probe is the retrieval contract, not an
    approximation of some other query."""
    return f"""
    WITH {_phash_bands_cte()},
    q AS (SELECT b0, b1, b2, b3 FROM bands
          WHERE doc_id = {_PHASH_QUERY_DOC}),
    cand AS (
        SELECT b.doc_id, b.b0, b.b1, b.b2, b.b3
        FROM bands b CROSS JOIN q
        WHERE b.doc_id <> {_PHASH_QUERY_DOC}
          AND (b.b0 = q.b0 OR b.b1 = q.b1 OR b.b2 = q.b2 OR b.b3 = q.b3)
    )
    SELECT c.doc_id,
           CAST(bit_count(xor(c.b0, q.b0)) + bit_count(xor(c.b1, q.b1))
              + bit_count(xor(c.b2, q.b2)) + bit_count(xor(c.b3, q.b3))
               AS BIGINT) AS hamming
    FROM cand c CROSS JOIN q
    ORDER BY hamming, doc_id
    LIMIT {_PHASH_TOPK}
    """


@query("similarity_image_phash_topk", _phash_topk_sql())
def similarity_image_phash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash similarity SEARCH over the binary payload —
    the retrieval twin of ``dedup_image_phash``: given one query
    payload, return the top-k most similar payloads by dHash Hamming
    distance, candidates generated by the banded probe (share >= 1 of
    4 bands). The banded candidate rule IS the retrieval contract
    (both engines rank the identical candidate set), the multi-probe
    LSH posture of ``similarity_ann_multiprobe`` applied to the
    image-hash domain.

    Scale shape: the query's 4 (band, value) rows BROADCAST into an
    equi-join against the corpus band table (only matching buckets
    are read — at 100 TB with a band index this is a 4-bucket point
    probe); the Hamming rank is a TakeOrdered(k) over the bounded
    candidate set, never a global sort; the 1-row query hash rides a
    broadcast. Same Arrow-batched decode seam as the dedup row."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = (
        with_binary_content(documents)
        .filter(F.length("content") > 0)
        .select("doc_id", "content")
    )
    ph = blobs.mapInPandas(dhash_bands, schema=PHASH_SCHEMA).persist()
    bands = band_rows(ph)
    qb = bands.filter(F.col("doc_id") == _PHASH_QUERY_DOC).select("band", "v")
    cand = (
        bands.join(F.broadcast(qb), ["band", "v"])
        .filter(F.col("doc_id") != _PHASH_QUERY_DOC)
        .select("doc_id")
        .distinct()
    )
    # evidence guard: a layout/hashing regression that empties (or
    # near-empties) the banded candidate set must fail LOUDLY, not
    # hash-match a trivial oracle result. The count is over the
    # bounded candidate set (the persisted hash frame feeds it), and
    # it must run as an ACTION here — a row-expression guard cannot
    # fire when zero rows flow through the plan.
    n_cand = cand.count()
    if n_cand < _PHASH_MIN_CANDIDATES:
        raise AssertionError(
            f"similarity_image_phash_topk: banded probe yielded only "
            f"{n_cand} candidates (< {_PHASH_MIN_CANDIDATES}) for query "
            f"doc {_PHASH_QUERY_DOC} — the result would be too small to "
            "carry hash-check evidence; suspect a band-layout or "
            "thumbnail-kernel regression"
        )
    qh = ph.filter(F.col("doc_id") == _PHASH_QUERY_DOC).select(
        *[F.col(f"b{i}").alias(f"q{i}") for i in range(_PHASH_BANDS)]
    )
    ham = sum(
        F.bit_count(F.col(f"b{i}").bitwiseXOR(F.col(f"q{i}")))
        for i in range(_PHASH_BANDS)
    )
    out = (
        cand.join(ph, "doc_id")
        .crossJoin(F.broadcast(qh))
        .withColumn("hamming", ham.cast("long"))
        .select("doc_id", "hamming")
        .orderBy("hamming", "doc_id")
        .limit(_PHASH_TOPK)
    )
    return checkpoint_result("similarity_image_phash_topk", out, ph)


# --------------------------------------------------------------------
# Audio fingerprint dedup: chromaprint-style energy-delta bits over
# the binary payload, banded-LSH candidates, exact Hamming verify —
# the audio member of the multimodal dedup family (image: dHash above)
# --------------------------------------------------------------------

AUDIO_FP_CELLS = 65  # energy-profile samples -> 64 delta bits
_AUDIO_FP_BANDS = 4  # 16 bits per band (shared pigeonhole recipe)
_AUDIO_FP_T = 3  # max Hamming distance for a near-dup pair

AUDIO_FP_SCHEMA = PHASH_SCHEMA  # (doc_id, b0..b3) — same band shape


def fake_audio_energy_profile(content: bytes) -> list[int]:
    """STUB 'decode + energy profile': a deterministic 65-sample
    loudness profile from the payload bytes — the contract a real
    fingerprinter satisfies with decoded PCM (chromaprint computes
    per-frame chroma energies; ``chromaprint_energy_profile`` below is
    the gated real-codec twin's seam). Per micro-frame energy = the
    3-byte moving-window sum mod 256; the BAG of energies is sorted
    and quantile-sampled, the order-invariance standing in for the
    re-encode robustness a real fingerprint gets from time-aligned
    PCM (position-locked frames put this corpus's near-identical
    payloads at Hamming >= 16 — measured; the same lesson as the
    image stub's shift-invariant bigram bag, multimodal.py above).

    Deliberately a DIFFERENT feature than the image kernel (window
    SUM of three samples — a smooth low-pass "energy", vs the image's
    multiplicative bigram hash): the two fingerprints disagree on
    unrelated payloads, so the two dedup rows carry independent
    evidence. Total over all payloads: < 3 bytes pads with NULs to 3
    (b'' profiles to all-zeros — empty clips are Hamming-0 dups of
    each other), never an IndexError."""
    if len(content) < 3:
        content = content + b"\x00" * (3 - len(content))
    v = sorted(
        (content[i] + content[i + 1] + content[i + 2]) % 256
        for i in range(len(content) - 2)
    )
    n = len(v)
    return [v[(n * k) // AUDIO_FP_CELLS] for k in range(AUDIO_FP_CELLS)]


def chromaprint_energy_profile(content: bytes) -> list[int]:
    """REAL fingerprint seam: decode + per-frame chroma energy via a
    codec library (librosa/chromaprint), reduced to the same 65-int
    profile contract as the stub so it slots into
    ``audio_fp_bands_with`` unchanged. The library is not in this
    image — importable the moment it exists, the ``pil_image_grid``
    pattern."""
    import librosa  # noqa: F401 — the dependency IS the seam

    raise NotImplementedError(
        "chromaprint_energy_profile: wire librosa frame energies to "
        "the 65-sample profile contract when the codec lib lands"
    )


def audio_fp_bands_with(profile_fn):
    """Fingerprint kernel with the pluggable profile step: per
    payload, 64 energy-delta bits (profile[k] < profile[k+1]) packed
    as FOUR 16-bit band integers — the same never-signed-64 packing
    as the dHash kernel, so banding, XOR and bit_count agree between
    Spark and DuckDB. Vectorized numpy over the Arrow batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = np.int64(1) << (np.arange(64) % 16)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "b0": [], "b1": [],
                     "b2": [], "b3": []}
                )
                continue
            P = np.stack(pdf["content"].map(profile_fn).to_numpy())
            bits = (P[:, :-1] < P[:, 1:]).astype(np.int64)
            out = {"doc_id": pdf["doc_id"]}
            for i in range(_AUDIO_FP_BANDS):
                sl = slice(16 * i, 16 * (i + 1))
                out[f"b{i}"] = (bits[:, sl] * weights[sl]).sum(axis=1)
            yield pd.DataFrame(out)

    return gen


audio_fp_bands = audio_fp_bands_with(fake_audio_energy_profile)


def _audio_fp_bands_cte() -> str:
    """The stub fingerprint re-derived in SQL: 3-byte moving-window
    sums mod 256 from the hex dump, sorted, 65 quantile samples, 64
    delta bits, 4 band ints — the audio twin of ``_phash_bands_cte``."""
    byte = "CAST('0x' || substr(h, 2 * CAST({i} AS INT) + 1, 2) AS INT)"
    return f"""raw AS (
        SELECT doc_id,
               hex(CASE WHEN octet_length(encode(text)) < 3
                        THEN encode(text) ||
                             repeat('\\x00'::BLOB,
                                    3 - octet_length(encode(text)))
                        ELSE encode(text) END) AS h
        FROM documents
        WHERE octet_length(encode(text)) > 0
    ),
    bg AS (
        SELECT doc_id,
               list_sort(list_transform(
                   range(0, octet_length(from_hex(h)) - 2),
                   i -> ({byte.format(i="i")} + {byte.format(i="i + 1")}
                         + {byte.format(i="i + 2")}) % 256)) AS v
        FROM raw
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(0, {AUDIO_FP_CELLS}),
                   k -> v[CAST((len(v) * k) // {AUDIO_FP_CELLS} AS INT)
                          + 1]) AS s
        FROM bg
    ),
    bits AS (
        SELECT doc_id,
               list_transform(range(0, 64), j ->
                   CASE WHEN s[j + 1] < s[j + 2] THEN 1 ELSE 0 END) AS bit
        FROM g
    ),
    bands AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 16),
                   j -> bit[j + 1] * (1 << j))) AS INT) AS b0,
               CAST(list_sum(list_transform(range(16, 32),
                   j -> bit[j + 1] * (1 << (j % 16)))) AS INT) AS b1,
               CAST(list_sum(list_transform(range(32, 48),
                   j -> bit[j + 1] * (1 << (j % 16)))) AS INT) AS b2,
               CAST(list_sum(list_transform(range(48, 64),
                   j -> bit[j + 1] * (1 << (j % 16)))) AS INT) AS b3
        FROM bits
    )"""


def _audio_fp_oracle_sql() -> str:
    """Dedup oracle: shared fingerprint pipeline + brute-force Hamming
    pair join (the oracle may go all-pairs; the Spark plan must not)."""
    return f"""
    WITH {_audio_fp_bands_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
               AS BIGINT) AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {_AUDIO_FP_T}
    ORDER BY doc_a, doc_b
    """


@query("dedup_audio_fingerprint", _audio_fp_oracle_sql())
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-fingerprint near-duplicate detection over the BINARY
    payload column — the audio member of the multimodal dedup family
    (``dedup_image_phash`` is the image member; this row completes
    the "multimodal columns" brief for the audio modality).

    Pipeline: pluggable fingerprint decode (``fake_audio_energy_
    profile`` stub / ``chromaprint_energy_profile`` real-codec seam)
    → 64 energy-delta bits packed as four 16-bit band ints → banded
    LSH candidates → exact Hamming verify at T=3 (``_AUDIO_FP_T``).
    Banding is pigeonhole-LOSSLESS at T=3 with 4 bands (the property
    test_phash_gate pins for this packing), so the banded plan is
    value-identical to the oracle's brute-force pair join.

    Scale shape: decode+fingerprint is one Arrow-batched map pass;
    candidates come from a (band, value) equi-join over 4 rows/doc —
    sum(bucket^2) work, never all-pairs; verify joins are doc-keyed
    equi-joins over the candidate set. Fingerprints never materialize
    as signed 64-bit values, so Spark and DuckDB agree bit for bit.

    Reference capability analog: none (reference stores raw blobs in
    Mongo, src/core/db.py; SURVEY §2.12's multimodal layer)."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = (
        with_binary_content(documents)
        .filter(F.length("content") > 0)
        .select("doc_id", "content")
    )
    fp = blobs.mapInPandas(audio_fp_bands, schema=AUDIO_FP_SCHEMA).persist()
    bands = band_rows(fp)
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "v")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "v"),
            ["band", "v"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = fp.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(_AUDIO_FP_BANDS)],
    )
    hb = fp.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(_AUDIO_FP_BANDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(_AUDIO_FP_BANDS)
    )
    out = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= _AUDIO_FP_T)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )
    res = checkpoint_result("dedup_audio_fingerprint", out, fp)
    # evidence guard (family contract): the fixture carries real
    # near-dup structure at every sf — an empty pair set would be a
    # vacuous hash-match
    if not res.take(1):
        raise AssertionError(
            "dedup_audio_fingerprint: zero verified pairs — the fixture "
            "has near-dup structure at every sf; suspect an energy-"
            "profile or band-packing regression"
        )
    return res


# --------------------------------------------------------------------
# Audio-fingerprint similarity SEARCH: banded probe + Hamming top-k —
# the retrieval twin of dedup_audio_fingerprint (image twin above)
# --------------------------------------------------------------------

# fixture query payload: present with >= _AUDIO_FP_MIN_CANDIDATES
# banded neighbors at EVERY sf (measured via the oracle CTE in DuckDB:
# 24 candidates at sf0.001, 17 at sf0.01, 6 at sf0.1 — sf-specific
# corpora, so the count is not monotone in sf)
_AUDIO_FP_QUERY_DOC = 409
_AUDIO_FP_TOPK = 10
# evidence floor (family contract, same as the image topk row): a
# starved banded probe FAILS instead of hash-matching a trivial oracle
_AUDIO_FP_MIN_CANDIDATES = 3


def _audio_fp_topk_sql() -> str:
    """Top-k oracle: the shared fingerprint pipeline, then the SAME
    banded candidate rule the Spark plan uses (share >= 1 of 4 bands
    with the query payload) — the banded probe is the retrieval
    CONTRACT, so both engines rank the identical candidate set."""
    return f"""
    WITH {_audio_fp_bands_cte()},
    q AS (SELECT b0, b1, b2, b3 FROM bands
          WHERE doc_id = {_AUDIO_FP_QUERY_DOC}),
    cand AS (
        SELECT b.doc_id, b.b0, b.b1, b.b2, b.b3
        FROM bands b CROSS JOIN q
        WHERE b.doc_id <> {_AUDIO_FP_QUERY_DOC}
          AND (b.b0 = q.b0 OR b.b1 = q.b1 OR b.b2 = q.b2 OR b.b3 = q.b3)
    )
    SELECT c.doc_id,
           CAST(bit_count(xor(c.b0, q.b0)) + bit_count(xor(c.b1, q.b1))
              + bit_count(xor(c.b2, q.b2)) + bit_count(xor(c.b3, q.b3))
               AS BIGINT) AS hamming
    FROM cand c CROSS JOIN q
    ORDER BY hamming, doc_id
    LIMIT {_AUDIO_FP_TOPK}
    """


@query("similarity_audio_fp_topk", _audio_fp_topk_sql())
def similarity_audio_fp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-fingerprint similarity SEARCH over the binary payload —
    the retrieval twin of ``dedup_audio_fingerprint``, completing the
    dedup + retrieval + ingest-gate triple for the audio modality the
    same way ``similarity_image_phash_topk`` did for images: given one
    query payload, return the top-k most similar payloads by
    energy-delta-fingerprint Hamming distance, candidates generated by
    the banded probe (share >= 1 of 4 bands — the retrieval contract,
    shared with the oracle).

    Scale shape: the query's 4 (band, value) rows BROADCAST into an
    equi-join against the corpus band table (at 100 TB with the
    ``audio_fp_bands`` index this is a 4-bucket point probe — the
    ingest gate maintains exactly that layout); the Hamming rank is a
    TakeOrdered(k) over the bounded candidate set, never a global
    sort. Same Arrow-batched fingerprint seam as the dedup row."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = (
        with_binary_content(documents)
        .filter(F.length("content") > 0)
        .select("doc_id", "content")
    )
    fp = blobs.mapInPandas(audio_fp_bands, schema=AUDIO_FP_SCHEMA).persist()
    bands = band_rows(fp)
    qb = bands.filter(F.col("doc_id") == _AUDIO_FP_QUERY_DOC).select(
        "band", "v"
    )
    cand = (
        bands.join(F.broadcast(qb), ["band", "v"])
        .filter(F.col("doc_id") != _AUDIO_FP_QUERY_DOC)
        .select("doc_id")
        .distinct()
    )
    # evidence guard (family contract): must run as an ACTION — a
    # row-expression guard cannot fire when zero rows flow through
    n_cand = cand.count()
    if n_cand < _AUDIO_FP_MIN_CANDIDATES:
        raise AssertionError(
            f"similarity_audio_fp_topk: banded probe yielded only "
            f"{n_cand} candidates (< {_AUDIO_FP_MIN_CANDIDATES}) for "
            f"query doc {_AUDIO_FP_QUERY_DOC} — the result would be too "
            "small to carry hash-check evidence; suspect an energy-"
            "profile or band-packing regression"
        )
    qh = fp.filter(F.col("doc_id") == _AUDIO_FP_QUERY_DOC).select(
        *[F.col(f"b{i}").alias(f"q{i}") for i in range(_AUDIO_FP_BANDS)]
    )
    ham = sum(
        F.bit_count(F.col(f"b{i}").bitwiseXOR(F.col(f"q{i}")))
        for i in range(_AUDIO_FP_BANDS)
    )
    out = (
        cand.join(fp, "doc_id")
        .crossJoin(F.broadcast(qh))
        .withColumn("hamming", ham.cast("long"))
        .select("doc_id", "hamming")
        .orderBy("hamming", "doc_id")
        .limit(_AUDIO_FP_TOPK)
    )
    return checkpoint_result("similarity_audio_fp_topk", out, fp)


# --------------------------------------------------------------------
# Cross-modal agreement audit: do the TEXT near-dup detector (n-gram
# Jaccard) and the PAYLOAD near-dup detector (perceptual hash) agree?
# --------------------------------------------------------------------

# evidence floor: the audit must see enough pairs AND a real class
# split (measured: 28 pairs / 2 classes at sf0.001, 25 / 2 at sf0.01,
# 262 / 3 at sf0.1 — 'image_only' needs corpus mass to appear)
_XMODAL_MIN_PAIRS = 10
_XMODAL_MIN_CLASSES = 2


def _cross_modal_sql() -> str:
    """Oracle: the two dedup rows' own pair rules (shared CTEs),
    full-outer joined on the pair key. jacc_bp is EXACT integer basis
    points (c * 10000 integer-div union size) — the repo-wide
    float-avoidance pattern, so both engines hash bit-identically."""
    from qms_datawarehouse_spark.operators.dedup import (
        _SHINGLE_CTE,
        JACCARD_THRESHOLD,
    )

    return f"""
    WITH {_SHINGLE_CTE},
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sx a JOIN sx b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tpairs AS (
        SELECT doc_a, doc_b,
               CAST((c * 10000) // (na.n + nb.n - c) AS BIGINT) AS jacc_bp
        FROM common
        JOIN sizes na ON common.doc_a = na.doc_id
        JOIN sizes nb ON common.doc_b = nb.doc_id
        WHERE c * 1.0 / (na.n + nb.n - c) >= {JACCARD_THRESHOLD}
    ),
    {_phash_bands_cte()},
    ppairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                  + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                   AS BIGINT) AS hamming
        FROM bands a JOIN bands b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            <= {_PHASH_T}
    )
    SELECT COALESCE(t.doc_a, p.doc_a) AS doc_a,
           COALESCE(t.doc_b, p.doc_b) AS doc_b,
           CASE WHEN t.doc_a IS NOT NULL AND p.doc_a IS NOT NULL
                THEN 'both'
                WHEN t.doc_a IS NOT NULL THEN 'text_only'
                ELSE 'image_only' END AS agreement,
           t.jacc_bp, p.hamming
    FROM tpairs t FULL OUTER JOIN ppairs p
      ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    ORDER BY doc_a, doc_b
    """


@query("dedup_cross_modal_agreement", _cross_modal_sql())
def dedup_cross_modal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup AGREEMENT audit — the training-pipeline
    question the per-modality dedup rows can't answer alone: for every
    pair flagged by EITHER detector, did the text detector (3-word
    shingle n-gram Jaccard >= 0.5, ``dedup_ngram_jaccard``'s rule) and
    the payload detector (dHash Hamming <= T, ``dedup_image_phash``'s
    rule) agree? 'text_only' pairs are re-encoded/re-rendered payload
    variants a payload-level gate would wrongly admit; 'image_only'
    pairs are template documents whose byte signature collides while
    the wording diverges — each class feeds a different curation
    policy, which is why the audit reports pairs, not counts.

    Scale shape: both pair generators are the dedup rows' own
    candidate plans (shingle-keyed and band-keyed equi-joins — never
    all-pairs; phash banding is pigeonhole-lossless at T=3 so the
    Spark pair set equals the oracle's brute-force join); the
    agreement combine is ONE pair-keyed full-outer equi-join over two
    already-small verified-pair sets."""
    from qms_datawarehouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _shingled,
    )

    (documents,) = tables(spark, sf_dir, "documents")

    # -- text pairs: shingle-keyed candidates, exact Jaccard verify ----
    sh = _shingled(documents).persist()
    # set sizes ride the exploded rows (one int each) so the pair agg
    # picks them up as group constants — the dedup_ppjoin_exact size
    # carry; the former post-agg na/nb joins re-read sh twice
    sx = sh.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"),
    )
    a, b = sx.alias("a"), sx.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("c"),
            # n is functionally determined by the doc id — max == the value
            F.max(F.col("a.n")).alias("na"),
            F.max(F.col("b.n")).alias("nb"),
        )
    )
    union_size = F.col("na") + F.col("nb") - F.col("c")
    tpairs = (
        common.filter(F.col("c") * 1.0 / union_size >= JACCARD_THRESHOLD)
        # integral DIV, never float-divide-then-truncate: both engines
        # compute the exact same basis points (the repo-wide pattern)
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST((c * 10000) DIV (na + nb - c) AS BIGINT) AS jacc_bp",
        )
    )

    # -- payload pairs: banded candidates, exact Hamming verify --------
    blobs = (
        with_binary_content(documents)
        .filter(F.length("content") > 0)
        .select("doc_id", "content")
    )
    ph = blobs.mapInPandas(dhash_bands, schema=PHASH_SCHEMA).persist()
    # the four hash ints ride the band rows (32 bytes/row) so Hamming
    # verifies INSIDE the candidate join — the former shape re-joined
    # ph twice after the pair distinct; hamming is functionally
    # determined by the pair, so distinct over (pair, hamming) is the
    # same pair set
    bx = band_rows(
        ph, carry=tuple(f"b{i}" for i in range(_PHASH_BANDS))
    )
    ham = sum(
        F.bit_count(F.col(f"a.b{i}").bitwiseXOR(F.col(f"b.b{i}")))
        for i in range(_PHASH_BANDS)
    )
    pa, pb = bx.alias("a"), bx.alias("b")
    ppairs = (
        pa.join(
            pb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _PHASH_T)
        .distinct()
    )

    # -- agreement: one pair-keyed full-outer equi-join -----------------
    t = tpairs.withColumn("_t", F.lit(1))
    out = (
        t.join(ppairs, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.when(
                F.col("_t").isNotNull() & F.col("hamming").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("_t").isNotNull(), F.lit("text_only"))
            .otherwise(F.lit("image_only"))
            .alias("agreement"),
            "jacc_bp",
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )
    res = checkpoint_result("dedup_cross_modal_agreement", out, sh, ph)
    # evidence guard as a ONE-ROW aggregate (never a full collect —
    # the pair set is small at test sf but corpus-dependent at scale)
    g = res.agg(
        F.count("*").alias("n"),
        F.countDistinct("agreement").alias("k"),
    ).first()
    if g["n"] < _XMODAL_MIN_PAIRS or g["k"] < _XMODAL_MIN_CLASSES:
        raise AssertionError(
            f"dedup_cross_modal_agreement: {g['n']} pairs / "
            f"{g['k']} agreement classes (need >= {_XMODAL_MIN_PAIRS} "
            f"/ {_XMODAL_MIN_CLASSES}) — the fixture carries a real "
            "cross-modal split at every sf; suspect a shingle or "
            "band-layout regression"
        )
    return res


# --------------------------------------------------------------------
# Phash-gate replay: the image admission gate's math as a stateless,
# driver-verifiable two-epoch program (the ingest_gate_replay mold)
# --------------------------------------------------------------------


def _phash_gate_replay_sql() -> str:
    """Two-epoch replay oracle: the shared band pipeline, Hamming
    pairs at T (banding is pigeonhole-lossless, so the brute-force
    pair join IS the gate's banded candidate+verify), then the gate
    family's admission scaffold — epoch 1 (even ids) canonicalizes
    in-batch (lowest id wins), admitted docs become the corpus;
    epoch 2 (odd ids) rejects in-batch the same way plus against
    epoch-1 ADMITTED docs only (rejected docs never enter the index,
    so they cannot veto). The ``((x % 2) + 2) % 2`` form mirrors
    Spark's pmod (DuckDB's % truncates toward zero)."""
    return f"""
    WITH {_phash_bands_cte()},
    ver AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            <= {_PHASH_T}
    ),
    ep AS (
        SELECT doc_id,
               CAST(((doc_id % 2) + 2) % 2 AS INT) AS odd
        FROM raw
    ),
    vere AS (
        SELECT v.da, v.db, ea.odd AS oa, eb.odd AS ob
        FROM ver v
        JOIN ep ea ON v.da = ea.doc_id
        JOIN ep eb ON v.db = eb.doc_id
    ),
    rej1 AS (SELECT DISTINCT db AS doc_id FROM vere WHERE oa = 0 AND ob = 0),
    adm1 AS (
        SELECT doc_id FROM ep WHERE odd = 0
        AND doc_id NOT IN (SELECT doc_id FROM rej1)
    ),
    rej2in AS (SELECT DISTINCT db AS doc_id FROM vere WHERE oa = 1 AND ob = 1),
    sym AS (
        SELECT da AS x, db AS y FROM ver
        UNION ALL SELECT db AS x, da AS y FROM ver
    ),
    rej2cross AS (
        SELECT DISTINCT s.x AS doc_id
        FROM sym s
        JOIN ep e2 ON s.x = e2.doc_id AND e2.odd = 1
        JOIN adm1 a ON s.y = a.doc_id
    ),
    rej AS (
        SELECT doc_id FROM rej1
        UNION SELECT doc_id FROM rej2in
        UNION SELECT doc_id FROM rej2cross
    ),
    status AS (
        SELECT e.doc_id, e.odd + 1 AS epoch,
               CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS is_rej
        FROM ep e LEFT JOIN rej r ON e.doc_id = r.doc_id
    )
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(1 - is_rej) AS BIGINT) AS n_accepted,
           CAST(sum(is_rej) AS BIGINT) AS n_rejected,
           CAST(COALESCE(sum(CASE WHEN is_rej = 1 THEN doc_id END), 0)
                AS BIGINT) AS rejected_ids_sum
    FROM status GROUP BY epoch ORDER BY epoch
    """


@query("phash_gate_replay_two_epochs", _phash_gate_replay_sql())
def phash_gate_replay_two_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-phash admission gate's math (operators/phash_gate.
    ingest_image_phash, driven per-epoch by streaming/sync.
    stream_ingest) as a stateless, value-checked two-epoch
    replay — the mold ``ingest_gate_replay_two_epochs`` (MinHash) and
    ``semantic_gate_replay_two_epochs`` (SemDeDup) set, completing
    driver-verifiable coverage for all three gate-family members.

    Non-empty payloads split by doc_id parity: EVEN ids land as
    epoch 1, ODD as epoch 2. Epoch 1 canonicalizes in-batch (a doc is
    rejected iff a Hamming<=T pair links it to a LOWER in-batch id —
    the gate's rule, not transitive); admitted docs become the
    corpus + band index. Epoch 2 rejects in-batch the same way PLUS
    any doc within Hamming T of an epoch-1 ADMITTED doc (the index
    holds only admitted entries, so epoch-1 rejects cannot veto).
    Near-dup = banded candidate then exact Hamming <= T — banding is
    pigeonhole-lossless at T=3, so the oracle's brute-force pair join
    computes the identical pair set. Output = per-epoch admission
    stats with the rejected id-set checksum IN the value hash.

    Scale shape: candidates from the (band, value) equi-join only
    (never all-pairs on the Spark side); the admission scaffold is
    id-keyed semi/anti joins over the bounded verified-pair set; the
    per-doc status frame aggregates to two rows in one shuffle."""
    (documents,) = tables(spark, sf_dir, "documents")
    blobs = (
        with_binary_content(documents)
        .filter(F.length("content") > 0)
        .select("doc_id", "content")
    )
    ph = blobs.mapInPandas(dhash_bands, schema=PHASH_SCHEMA).persist()
    bands = band_rows(ph)
    cand = (
        bands.select(F.col("doc_id").alias("da"), "band", "v")
        .join(
            bands.select(F.col("doc_id").alias("db"), "band", "v"),
            ["band", "v"],
        )
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    ha = ph.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(_PHASH_BANDS)],
    )
    hb = ph.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(_PHASH_BANDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(_PHASH_BANDS)
    )
    ver = (
        cand.join(ha, "da")
        .join(hb, "db")
        .filter(ham.cast("long") <= _PHASH_T)
        .select("da", "db")
        .persist()
    )

    ep = blobs.select(
        "doc_id", F.pmod(F.col("doc_id"), F.lit(2)).cast("int").alias("odd")
    )
    ea = ep.select(F.col("doc_id").alias("da"), F.col("odd").alias("oa"))
    eb = ep.select(F.col("doc_id").alias("db"), F.col("odd").alias("ob"))
    vere = ver.join(ea, "da").join(eb, "db")

    rej1 = (
        vere.filter((F.col("oa") == 0) & (F.col("ob") == 0))
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    adm1 = ep.filter(F.col("odd") == 0).join(rej1, "doc_id", "left_anti")
    rej2_in = vere.filter((F.col("oa") == 1) & (F.col("ob") == 1)).select(
        F.col("db").alias("doc_id")
    )
    sym = ver.select(
        F.col("da").alias("x"), F.col("db").alias("y")
    ).unionByName(ver.select(F.col("db").alias("x"), F.col("da").alias("y")))
    rej2_cross = (
        sym.join(
            ep.filter(F.col("odd") == 1).select(F.col("doc_id").alias("x")),
            "x",
            "left_semi",
        )
        .join(adm1.select(F.col("doc_id").alias("y")), "y", "left_semi")
        .select(F.col("x").alias("doc_id"))
    )
    rej = rej1.unionByName(rej2_in).unionByName(rej2_cross).distinct()

    status = (
        ep.withColumn("epoch", (F.col("odd") + 1).cast("int"))
        .join(rej.withColumn("is_rej", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id", "epoch", F.coalesce("is_rej", F.lit(0)).alias("is_rej")
        )
    )
    out = (
        status.groupBy("epoch")
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.sum(1 - F.col("is_rej")).cast("long").alias("n_accepted"),
            F.sum("is_rej").cast("long").alias("n_rejected"),
            F.coalesce(
                F.sum(F.when(F.col("is_rej") == 1, F.col("doc_id"))), F.lit(0)
            )
            .cast("long")
            .alias("rejected_ids_sum"),
        )
        .orderBy("epoch")
    )
    return checkpoint_result("phash_gate_replay_two_epochs", out, ver, ph)
