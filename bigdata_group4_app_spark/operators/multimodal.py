"""Multimodal (image/audio/video) column plumbing.

A 100 TB training-data pipeline stores media as opaque ``binary`` columns
with typed metadata alongside; decode / feature-extract / frame-sample run
as Arrow-batched Pandas UDFs (``mapInPandas``) so the bytes never leave the
executor and never pass through row-at-a-time Python.

The container has no image/audio libraries, so the actual codec step is a
clearly-marked stub: ``decode_image``/``decode_audio`` raise
``NotImplementedError`` unless PIL/soundfile import, and the shipped
feature extractors use a DETERMINISTIC FAKE derived from the content bytes
(md5-seeded) — the Spark-side plumbing (binary schema, mapInPandas batch
shape, partitioning, metadata struct) is real and oracle-checked.

The media relation is derived deterministically from ``documents``:
``content = utf-8 bytes of text`` standing in for encoded media, mime
assigned round-robin by doc_id. On a real corpus only ``_media()`` changes
(read parquet with a true binary column); every operator below is
byte-oriented and carries over unchanged. Since round 8 a TRUE
``BinaryType`` parquet column IS exercised end-to-end:
``binary_asset_profile`` reads the committed ``fixtures/`` asset store
(magic-byte sniff, content hash, metadata audit) with a DuckDB BLOB
oracle.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.iterative import loop_width
from ..sources.registry import load_table

MIMES = ("image/png", "audio/wav", "video/mp4")
FRAME_STRIDE = 256  # fake video: one "frame" per 256 content bytes
MAX_FRAMES = 8


# ---------------------------------------------------------------------------
# media relation: binary content + typed metadata
# ---------------------------------------------------------------------------


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mime, content binary, meta struct<n_bytes, source>)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(m) for m in MIMES]),
            (F.col("doc_id") % len(MIMES) + 1).cast("int"),
        ).alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def media_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed inventory of the media store — pure relational over binary."""
    m = media_table(spark, sf_dir)
    return (
        m.groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
            F.round(F.avg(F.col("meta.n_bytes")), 4).alias("avg_bytes"),
        )
        .orderBy("mime")
    )


# ---------------------------------------------------------------------------
# decode stubs — the codec boundary, clearly gated
# ---------------------------------------------------------------------------


def decode_image(content: bytes):
    """Real image decode. STUB: PIL is not in this container."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(content))
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "image codec unavailable in this environment; "
            "feature extractors use the deterministic fake path"
        ) from e


def decode_audio(content: bytes):
    """Real audio decode. STUB: soundfile/librosa not in this container."""
    try:
        import io

        import soundfile  # noqa: F401

        return soundfile.read(io.BytesIO(content))
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "audio codec unavailable in this environment; "
            "feature extractors use the deterministic fake path"
        ) from e


# ---------------------------------------------------------------------------
# feature extraction over binary — mapInPandas, Arrow batches
# ---------------------------------------------------------------------------


def image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image features from bytes. Batch shape: the UDF receives Arrow
    batches of (doc_id, content) and runs one vectorized pass per batch —
    a real decoder (PIL/libvips) would slot into the same loop."""
    imgs = media_table(spark, sf_dir).filter(F.col("mime") == "image/png")

    # NOTE: executor-side closures must be self-contained (stdlib/pandas
    # imports only, no references to this package's module globals) — the
    # Python workers don't have the engine package importable unless it was
    # shipped with --py-files, and self-containment removes that coupling.
    def extract(batches):
        import hashlib

        import pandas as pd

        def fake_dims(digest_hex):
            return (
                16 + int(digest_hex[:2], 16) % 64,
                16 + int(digest_hex[2:4], 16) % 64,
            )

        for pdf in batches:
            digests = [
                hashlib.md5(bytes(c)).hexdigest() for c in pdf["content"]
            ]
            dims = [fake_dims(d) for d in digests]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "content_md5": digests,
                }
            )

    return (
        imgs.select("doc_id", "content")
        .mapInPandas(
            extract,
            schema=(
                "doc_id long, n_bytes long, width int, height int, "
                "content_md5 string"
            ),
        )
        .orderBy("doc_id")
    )


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one fake frame per FRAME_STRIDE bytes (cap
    MAX_FRAMES), each fingerprinted by an md5 chain off the content digest.
    A real implementation swaps the chain for ffmpeg keyframe extraction;
    the explode/cap/fingerprint plumbing is identical."""
    vids = media_table(spark, sf_dir).filter(F.col("mime") == "video/mp4")

    stride, max_frames = FRAME_STRIDE, MAX_FRAMES

    # codec boundary split (see audio_chunk_stats): Python digests each
    # asset once; frame fan-out and chain hashes are codegen'd expressions
    def digest(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "digest": [
                        hashlib.md5(bytes(c)).hexdigest()
                        for c in pdf["content"]
                    ],
                }
            )

    per_doc = vids.select("doc_id", "content").mapInPandas(
        digest, schema="doc_id long, n_bytes long, digest string"
    )
    n_frames = f"least(n_bytes div {stride}, {max_frames})"
    return (
        per_doc.select(
            "doc_id",
            "digest",
            F.explode(
                F.expr(
                    f"CASE WHEN {n_frames} > 0 THEN"
                    f" sequence(0, CAST({n_frames} AS INT) - 1)"
                    f" ELSE array() END"
                )
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.md5(
                F.concat_ws(":", F.col("digest"), F.col("frame_idx"))
            ).alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


RESIZE_TARGET = 64


def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: per image, the source dims (fake-decoded), the
    RESIZE_TARGET thumbnail dims preserving aspect ratio, and a thumbnail
    fingerprint. A real pipeline swaps the md5 chain for PIL/libvips
    resampling inside the same mapInPandas loop; dims arithmetic, batch
    shape, and output schema are exactly what the real op needs."""
    imgs = media_table(spark, sf_dir).filter(F.col("mime") == "image/png")
    target = RESIZE_TARGET

    def resize(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "thumb_w": [],
                "thumb_h": [],
                "thumb_md5": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(content)
                d = hashlib.md5(b).hexdigest()
                w = 16 + int(d[:2], 16) % 64
                h = 16 + int(d[2:4], 16) % 64
                scale = target / max(w, h)
                tw, th = max(1, int(w * scale)), max(1, int(h * scale))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["thumb_w"].append(tw)
                rows["thumb_h"].append(th)
                rows["thumb_md5"].append(
                    hashlib.md5(f"{d}:{tw}x{th}".encode()).hexdigest()
                )
            yield pd.DataFrame(rows)

    return (
        imgs.select("doc_id", "content")
        .mapInPandas(
            resize,
            schema=(
                "doc_id long, width int, height int, thumb_w int, "
                "thumb_h int, thumb_md5 string"
            ),
        )
        .orderBy("doc_id")
    )


def audio_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation: fixed-stride chunks with per-chunk byte length
    and an md5-chain fingerprint — the resample/feature-window shape a real
    audio pipeline (soundfile/librosa via decode_audio) would fill in.

    Split at the codec boundary: Python (mapInPandas) touches the raw
    bytes exactly ONCE per asset (the digest a real decoder would
    replace); the per-chunk fan-out — sequence explode, byte arithmetic,
    chain hashes — runs as codegen'd expressions. Moving the chunk loop
    out of Python cut the operator ~2× at sf0.1: per-chunk work in an
    interpreted loop is exactly what whole-stage codegen exists for."""
    auds = media_table(spark, sf_dir).filter(F.col("mime") == "audio/wav")
    stride = FRAME_STRIDE

    def digest(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "digest": [
                        hashlib.md5(bytes(c)).hexdigest()
                        for c in pdf["content"]
                    ],
                }
            )

    per_doc = auds.select("doc_id", "content").mapInPandas(
        digest, schema="doc_id long, n_bytes long, digest string"
    )
    return (
        per_doc.select(
            "doc_id",
            "n_bytes",
            "digest",
            F.explode(
                F.expr(
                    f"CASE WHEN n_bytes > 0 THEN sequence(0,"
                    f" CAST((n_bytes + {stride} - 1) div {stride} AS INT) - 1)"
                    f" ELSE array() END"
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(stride), F.col("n_bytes") - F.col("chunk_idx") * stride
            )
            .cast("int")
            .alias("chunk_bytes"),
            F.md5(
                F.concat_ws(":", F.col("digest"), F.col("chunk_idx"))
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


ORACLE: dict[str, str] = {
    "image_resize": f"""
WITH dims AS (
  SELECT doc_id,
    16 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 64 AS width,
    16 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 64 AS height,
    md5(text) AS d
  FROM documents
  WHERE doc_id % 3 = 0
),
t AS (
  SELECT doc_id, width, height,
    greatest(1, CAST(floor(width * ({RESIZE_TARGET}.0 / greatest(width, height))) AS INT)) AS thumb_w,
    greatest(1, CAST(floor(height * ({RESIZE_TARGET}.0 / greatest(width, height))) AS INT)) AS thumb_h,
    d
  FROM dims
)
SELECT doc_id, width, height, thumb_w, thumb_h,
  md5(d || ':' || thumb_w || 'x' || thumb_h) AS thumb_md5
FROM t
ORDER BY doc_id
""",
    "audio_chunk_stats": f"""
SELECT d.doc_id,
  CAST(u.i AS INT) AS chunk_idx,
  CAST(least({FRAME_STRIDE}, octet_length(encode(d.text)) - u.i * {FRAME_STRIDE}) AS INT) AS chunk_bytes,
  md5(md5(d.text) || ':' || u.i) AS chunk_md5
FROM documents d
CROSS JOIN UNNEST(generate_series(0,
    CAST(ceil(octet_length(encode(d.text)) / {FRAME_STRIDE}.0) AS BIGINT) - 1
)) u(i)
WHERE d.doc_id % 3 = 1
ORDER BY doc_id, chunk_idx
""",
    "media_catalog": f"""
SELECT
  CASE doc_id % 3 WHEN 0 THEN '{MIMES[0]}' WHEN 1 THEN '{MIMES[1]}'
                  ELSE '{MIMES[2]}' END AS mime,
  count(*) AS n_assets,
  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
  round(avg(octet_length(encode(text))), 4) AS avg_bytes
FROM documents
GROUP BY 1
ORDER BY mime
""",
    "image_features": """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  16 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 64 AS width,
  16 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 64 AS height,
  md5(text) AS content_md5
FROM documents
WHERE doc_id % 3 = 0
ORDER BY doc_id
""",
    "video_frame_sample": f"""
SELECT d.doc_id, CAST(u.i AS INT) AS frame_idx,
  md5(md5(d.text) || ':' || u.i) AS frame_md5
FROM documents d
CROSS JOIN UNNEST(generate_series(0,
    CAST(least(octet_length(encode(d.text)) // {FRAME_STRIDE}, {MAX_FRAMES}) AS BIGINT) - 1
)) u(i)
WHERE d.doc_id % 3 = 2
ORDER BY doc_id, frame_idx
""",
}

QUERIES = {
    "image_resize": image_resize,
    "audio_chunk_stats": audio_chunk_stats,
    "media_catalog": media_catalog,
    "image_features": image_features,
    "video_frame_sample": video_frame_sample,
}


# ---------------------------------------------------------------------------
# perceptual-hash image near-dup pairs (aHash + Hamming band blocking)
# ---------------------------------------------------------------------------

IMG_HASH_BITS = 64  # 8×8 "thumbnail" -> 64-bit average hash
IMG_BANDS = 8  # Hamming-LSH bands of 8 bits each
IMG_BAND_BITS = IMG_HASH_BITS // IMG_BANDS
# pigeonhole guarantee: a pair within bands-1 flipped bits leaves at
# least one band intact, so the band join has recall 1.0 at this radius
# (the levenshtein_dup_pairs 9-gram argument, applied to Hamming space)
IMG_HAM_THRESH = IMG_BANDS - 1


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual average-hash (aHash) with
    Hamming band blocking — the image-side twin of ``simhash_dup_pairs``:
    hash every asset once, band the hash, and join on band equality so
    candidate volume tracks duplicate density, never N².

    The "decode + 8×8 downscale" step uses the deterministic fake pixel
    source this module's codec boundary ships (PIL is absent): the
    asset's bytes are split into 64 equal slices and each slice's byte
    sum is one "pixel" — a real pipeline swaps exactly this per-asset
    step for PIL's ``resize((8, 8))`` luminance grid and keeps every
    line below it. aHash bit j = pixel_j ≥ mean (computed as the
    all-integer ``pixel·64 ≥ Σpixels`` so no engine ever divides);
    8×8-bit band values pack by integer Horner folds; Hamming distance
    is ``bit_count(xor())`` per band. Everything is exact integer
    arithmetic — the DuckDB oracle replays it bit-for-bit.

    Scale shape: hashing is map-only over the asset scan; the band join
    shuffles (band_idx, band_value) keys; the Hamming verify touches
    candidates only. With ≤ ``IMG_HAM_THRESH`` = bands−1 the result is
    EXACTLY all pairs within that radius (pigeonhole), so unlike
    probability-banded MinHash there is no recall loss to audit.
    """
    return _phash_pairs_unordered(spark, sf_dir).orderBy(
        "doc_id_a", "doc_id_b"
    )


def _phash_pairs_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNSORTED pHash pair relation — ``image_phash_pairs`` adds the
    presentation sort; ``multimodal_dup_clusters`` feeds it straight to
    connected components (which would destroy a sort anyway — the
    ``_semantic_pairs`` precedent)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        ((F.col("doc_id") % 3) == 0) & (F.length("text") >= IMG_HASH_BITS)
    )
    nb = IMG_HASH_BITS
    # one O(n) pass to char codes, then O(n) slice folds — per-position
    # substr() would be O(n²) per asset and measured 100× slower at sf0.1
    chars = "transform(filter(split(text, ''), x -> x <> ''), c -> ascii(c))"
    pix = (
        f"transform(sequence(0, {nb - 1}), j -> aggregate(slice(chars, "
        f"1 + CAST(j * size(chars) DIV {nb} AS INT), "
        f"CAST((j + 1) * size(chars) DIV {nb} AS INT) "
        f"- CAST(j * size(chars) DIV {nb} AS INT)), 0, (a, v) -> a + v))"
    )
    band_cols = [
        F.expr(
            f"aggregate(slice(bits, {IMG_BAND_BITS * k + 1}, "
            f"{IMG_BAND_BITS}), 0, (a, v) -> a * 2 + v)"
        ).alias(f"b{k}")
        for k in range(IMG_BANDS)
    ]
    # persist (construction-lazy, round 10): the band-explode and the
    # pair-verify LEFT and RIGHT sides all consume this tiny (n_assets ×
    # 9 ints) relation — without the cache the hashing expression tree
    # is planned and executed three more times
    hashes = (
        docs.select("doc_id", F.expr(chars).alias("chars"))
        .withColumn("pix", F.expr(pix))
        .withColumn("sp", F.expr("aggregate(pix, 0, (a, v) -> a + v)"))
        .withColumn(
            "bits",
            F.expr(
                f"transform(pix, x -> IF(x * {nb} >= sp, 1, 0))"
            ),
        )
        .select("doc_id", *band_cols)
        .persist()
    )
    long = hashes.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{k}") for k in range(IMG_BANDS)]))
        .alias("band_idx", "val"),
    )
    cand = (
        long.alias("x")
        .join(
            long.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(IMG_BANDS)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"b{k}").alias(f"bb{k}") for k in range(IMG_BANDS)],
    )
    ham = F.expr(
        " + ".join(f"bit_count(a{k} ^ bb{k})" for k in range(IMG_BANDS))
    ).cast("int")
    return (
        cand.join(ha, "doc_id_a")
        .join(hb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= IMG_HAM_THRESH)
    )


def _duck_phash_ctes() -> str:
    """The aHash chain ending at the per-asset ``bands`` CTE — shared
    text between the ``image_phash_pairs`` oracle and the multimodal
    dedup-union oracle (shared-helper rule: the union must cluster
    exactly the pairs the pair report shows)."""
    nb = IMG_HASH_BITS
    bw = IMG_BAND_BITS
    band_exprs = ",\n    ".join(
        f"list_reduce(list_prepend(0, b[{bw * k + 1}:{bw * (k + 1)}]), "
        f"(a, v) -> a * 2 + v) AS b{k}"
        for k in range(IMG_BANDS)
    )
    return f"""img AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE doc_id % 3 = 0 AND length(text) >= {nb}
),
pix AS (
  SELECT doc_id,
    list_transform(generate_series(0, {nb - 1}),
      j -> list_reduce(list_prepend(0,
             list_transform(generate_series(1 + CAST((j * n) // {nb} AS INT),
                                            CAST(((j + 1) * n) // {nb} AS INT)),
               p -> ascii(substr(text, p, 1)))),
           (a, v) -> a + v)) AS p
  FROM img
),
bits AS (
  SELECT doc_id,
    list_transform(p, x -> CASE WHEN x * {nb} >= sp THEN 1 ELSE 0 END) AS b
  FROM (SELECT doc_id, p,
          list_reduce(list_prepend(0, p), (a, v) -> a + v) AS sp FROM pix)
),
bands AS (
  SELECT doc_id,
    {band_exprs}
  FROM bits
)"""


def _phash_pair_fragments() -> tuple[str, str]:
    """(band-OR join condition, Hamming-sum expression) over aliases
    x/y of the ``bands`` CTE — shared by both phash consumers."""
    band_or = " OR ".join(f"x.b{k} = y.b{k}" for k in range(IMG_BANDS))
    ham = " + ".join(
        f"bit_count(xor(x.b{k}, y.b{k}))" for k in range(IMG_BANDS)
    )
    return band_or, ham


def _duck_phash_sql() -> str:
    band_or, ham = _phash_pair_fragments()
    return f"""
WITH {_duck_phash_ctes()}
SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
  CAST({ham} AS INT) AS hamming
FROM bands x JOIN bands y ON x.doc_id < y.doc_id AND ({band_or})
WHERE {ham} <= {IMG_HAM_THRESH}
ORDER BY doc_id_a, doc_id_b
"""


ORACLE["image_phash_pairs"] = _duck_phash_sql()
QUERIES["image_phash_pairs"] = image_phash_pairs


# ---------------------------------------------------------------------------
# multimodal dedup union: text MinHash ∪ image pHash evidence clusters
# ---------------------------------------------------------------------------

# the evidence-edge checkpoint's partition count and the propagation
# loop's shuffle width: evidenced docs are a tiny relation at any corpus
# size, so per-round width is pure overhead (the _near_dup_cluster_labels
# lever)
_MM_LOOP_WIDTH = 4


def multimodal_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One dedup decision across modalities: text near-dup evidence
    (the MinHash family's verified pairs) and image near-dup evidence
    (``image_phash_pairs``) union into a single edge set, connected
    components assign every evidenced doc a cluster, and the report
    shows per cluster its size, the per-channel edge counts, and which
    evidence found it (``text`` / ``image`` / ``both``) — the dedup a
    multimodal training corpus actually needs, where a caption edit
    hides the text dup but the image still matches (and vice versa),
    and keeping one copy per MODALITY-JOINED cluster is the policy.

    Shape at scale: both evidence channels are the already-subquadratic
    banded miners (shared helpers — this operator mines nothing new);
    the union is edge-count-sized, repartitioned NARROW, and
    localCheckpointed (two consumers: the CC loop and the channel
    fold); components run the min-label propagation loop with path
    halving at narrow shuffle width — both constituent dup graphs are
    near-clique (mutual-dup clusters), so propagation converges in few
    rounds and measured faster than the alternating-star form here
    (4.25 s vs 5.2 s loop wall at sf0.1, ~3.6 s with the narrow edge
    partitioning), the same algorithm-selection call
    ``_near_dup_cluster_labels`` documents; a chain-shaped graph would
    flip the choice back to ``_star_components``. What remains at toy
    SF is the per-round scheduling floor every iterative CC pays; the
    20×-rows probe slope is 2.2×. The oracle replays both miners from
    their shared CTE texts and saturates the same fixpoint with a
    recursive CTE.

    Reference parity: no counterpart (the reference drops exact
    pandas duplicates only); public-knowledge design."""
    from .dedup import (
        JACCARD_MINHASH_THRESHOLD,
        _minhash_sig_cands,
        _jaccard_verify,
        _propagate_min_labels,
        _persist_shingles,
        _shingles,
    )

    sh = _persist_shingles(_shingles(spark, sf_dir))
    sig, cands = _minhash_sig_cands(sh)
    tpairs = (
        _jaccard_verify(cands, sh, sizes=sig.select("doc_id", "n"))
        .filter(F.col("jaccard") >= JACCARD_MINHASH_THRESHOLD)
        .select("doc_id_1", "doc_id_2", F.lit("text").alias("ch"))
    )
    ipairs = _phash_pairs_unordered(spark, sf_dir).select(
        F.col("doc_id_a").alias("doc_id_1"),
        F.col("doc_id_b").alias("doc_id_2"),
        F.lit("image").alias("ch"),
    )
    # narrow the checkpointed partitioning: the union inherits ~2×32
    # mostly-empty partitions from its two mining subtrees, and every
    # propagation round would re-scan all of them (at production scale
    # pick the width ∝ edge volume)
    edges = (
        tpairs.unionByName(ipairs)
        .repartition(_MM_LOOP_WIDTH)
        .localCheckpoint()
    )
    sym = edges.select("doc_id_1", "doc_id_2").unionByName(
        edges.select(
            F.col("doc_id_2").alias("doc_id_1"),
            F.col("doc_id_1").alias("doc_id_2"),
        )
    )
    with loop_width(spark, _MM_LOOP_WIDTH):
        labels = _propagate_min_labels(sym)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    ch = (
        edges.join(labels, edges.doc_id_1 == labels.doc_id)
        .groupBy("cluster_id")
        .agg(
            F.sum((F.col("ch") == "text").cast("long")).alias(
                "n_text_edges"
            ),
            F.sum((F.col("ch") == "image").cast("long")).alias(
                "n_image_edges"
            ),
        )
    )
    return (
        sizes.join(ch, "cluster_id")
        .select(
            "cluster_id",
            "n_docs",
            "n_text_edges",
            "n_image_edges",
            F.when(F.col("n_image_edges") == 0, "text")
            .when(F.col("n_text_edges") == 0, "image")
            .otherwise("both")
            .alias("evidence"),
        )
        .orderBy("cluster_id")
    )


def _duck_multimodal_union_sql() -> str:
    from .dedup import JACCARD_MINHASH_THRESHOLD, _duck_minhash_ctes

    band_or, ham = _phash_pair_fragments()
    return f"""
WITH RECURSIVE {_duck_minhash_ctes()},
{_duck_phash_ctes()},
mm_edges AS MATERIALIZED (
  SELECT doc_id_1, doc_id_2, 'text' AS ch FROM verified
  WHERE jaccard >= {JACCARD_MINHASH_THRESHOLD}
  UNION ALL
  SELECT x.doc_id, y.doc_id, 'image' AS ch
  FROM bands x JOIN bands y ON x.doc_id < y.doc_id AND ({band_or})
  WHERE {ham} <= {IMG_HAM_THRESH}
),
mm_sym AS MATERIALIZED (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM mm_edges
  UNION ALL
  SELECT doc_id_2, doc_id_1 FROM mm_edges
),
mm_reach(a, b) AS (
  SELECT a, b FROM mm_sym
  UNION
  SELECT r.a, e.b FROM mm_reach r JOIN mm_sym e ON r.b = e.a
),
mm_lab AS MATERIALIZED (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM mm_reach GROUP BY a
),
mm_sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
  FROM mm_lab GROUP BY 1
),
mm_ch AS (
  SELECT l.cluster_id,
    CAST(sum(CASE WHEN e.ch = 'text' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_text_edges,
    CAST(sum(CASE WHEN e.ch = 'image' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_image_edges
  FROM mm_edges e JOIN mm_lab l ON l.doc_id = e.doc_id_1
  GROUP BY 1
)
SELECT s.cluster_id, s.n_docs, c.n_text_edges, c.n_image_edges,
  CASE WHEN c.n_image_edges = 0 THEN 'text'
       WHEN c.n_text_edges = 0 THEN 'image'
       ELSE 'both' END AS evidence
FROM mm_sizes s JOIN mm_ch c ON c.cluster_id = s.cluster_id
ORDER BY s.cluster_id
"""


ORACLE["multimodal_dup_clusters"] = _duck_multimodal_union_sql()
QUERIES["multimodal_dup_clusters"] = multimodal_dup_clusters


# ---------------------------------------------------------------------------
# real BinaryType column: the committed binary-asset fixture
# ---------------------------------------------------------------------------

# Deterministic parquet with a TRUE BinaryType column (fixtures/ — built by
# scripts/make_binary_fixture.py, committed so both engines read identical
# bytes). Closes the r7 honest weakness: multimodal stops meaning
# "bytes simulated from documents.text".
BINARY_FIXTURE = str(
    Path(__file__).resolve().parents[2] / "fixtures" / "binary_assets.parquet"
)
_MAGIC_KINDS = (
    ("89504E47", "png"),
    ("FFD8FFE0", "jpeg"),
    ("52494646", "wav"),
)


def binary_asset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile of a REAL ``BinaryType`` parquet column, joined to the
    corpus: per asset (keyed to doc_id) the byte length, the magic-bytes
    format sniff, a cross-engine content hash, and whether the catalog's
    declared ``kind`` matches the sniffed magic — the ingest audit a
    multimodal pipeline runs before ever decoding anything (corrupt /
    mislabeled blobs must be quarantined by METADATA, not by a codec
    crash at training time).

    Cross-engine discipline: every feature derives from the HEX encoding
    of the blob (Spark ``hex`` and DuckDB ``hex`` both emit uppercase),
    so the magic sniff is a string prefix and the content hash is
    ``md5(hex(blob))`` — md5 over a VARCHAR on both engines (DuckDB 1.0
    md5 is VARCHAR-only; hashing the hex text sidesteps BLOB-md5
    entirely while still fingerprinting every byte). Scale shape:
    map-only over the asset scan (column-pruned parquet read of the
    binary column), broadcast join to the corpus dim for language —
    at 100 TB this is the same one-pass profile, partitioned by asset
    file layout."""
    assets = spark.read.parquet(BINARY_FIXTURE).select(
        "asset_id",
        "kind",
        "width",
        "height",
        F.hex(F.col("blob")).alias("hx"),
    )
    magic = F.substring(F.col("hx"), 1, 8)
    detected = F.lit("unknown")
    for pref, kind in reversed(_MAGIC_KINDS):
        detected = F.when(magic == pref, kind).otherwise(detected)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    prof = assets.select(
        "asset_id",
        "kind",
        "width",
        "height",
        (F.length("hx") / 2).cast("long").alias("n_bytes"),
        magic.alias("magic_hex"),
        detected.alias("detected_kind"),
        F.md5(F.col("hx")).alias("content_md5"),
    )
    return (
        prof.join(docs, prof.asset_id == docs.doc_id)
        .select(
            "asset_id",
            "lang",
            "kind",
            "detected_kind",
            (F.col("kind") == F.col("detected_kind")).cast("int").alias(
                "kind_matches"
            ),
            "n_bytes",
            "magic_hex",
            "content_md5",
            "width",
            "height",
        )
        .orderBy("asset_id")
    )


def _duck_binary_asset_sql() -> str:
    whens = "\n    ".join(
        f"WHEN left(hex(blob), 8) = '{pref}' THEN '{kind}'"
        for pref, kind in _MAGIC_KINDS
    )
    return f"""
WITH assets AS (
  SELECT asset_id, kind, width, height, hex(blob) AS hx,
    CAST(octet_length(blob) AS BIGINT) AS n_bytes,
    left(hex(blob), 8) AS magic_hex,
    CASE {whens} ELSE 'unknown' END AS detected_kind,
    md5(hex(blob)) AS content_md5
  FROM read_parquet('{BINARY_FIXTURE}')
)
SELECT a.asset_id, d.lang, a.kind, a.detected_kind,
  CAST(a.kind = a.detected_kind AS INT) AS kind_matches,
  a.n_bytes, a.magic_hex, a.content_md5, a.width, a.height
FROM assets a JOIN documents d ON d.doc_id = a.asset_id
ORDER BY a.asset_id
"""


ORACLE["binary_asset_profile"] = _duck_binary_asset_sql()
QUERIES["binary_asset_profile"] = binary_asset_profile
