"""Multimodal (binary) column handling.

Images/audio/video are opaque `binary` columns plus typed metadata
(reference corpus: binary.parquet, a 12-row protobuf-written binary
column). The Spark-side plumbing — schema, Arrow batching, mapInPandas
signatures, partitioning — is real and tested; the actual media decode
is STUBBED with a deterministic fake (image/audio codec libraries are
not available in this environment): see `_decode_fake_header`, which
parses our own synthetic 12-byte header instead of a real JPEG/WAV
parse. Swap `_decode_fake_header` for a PIL/soundfile call in
production — nothing else changes.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register
from parquet_playground_spark.tables import load_table, scratch_path

# synthetic header: magic 'PPSB' + uint32 width + uint32 height
_MAGIC = b"PPSB"


def _fake_blob(doc_id: int, text: bytes) -> bytes:
    w = 16 + (doc_id % 64)
    h = 16 + (doc_id % 48)
    return _MAGIC + struct.pack(">II", w, h) + text


def _decode_fake_header(payload: bytes) -> tuple[int, int]:
    """STUB decode: parse the deterministic fake header. A real decoder
    (PIL.Image.open etc.) is not installable here by policy."""
    if payload[:4] != _MAGIC:
        raise NotImplementedError(
            "real media decoding is stubbed in this environment"
        )
    w, h = struct.unpack(">II", payload[4:12])
    return w, h


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach a deterministic binary 'media' column built from doc text
    (stand-in for an image/audio payload) + typed metadata."""
    blob = F.concat(
        F.lit(_MAGIC),
        # big-endian uint32 width/height, built JVM-side
        F.unhex(F.lpad(F.hex(16 + F.col("doc_id") % 64), 8, "0")),
        F.unhex(F.lpad(F.hex(16 + F.col("doc_id") % 48), 8, "0")),
        F.encode(F.col("text"), "utf-8"),
    )
    return df.select(
        "doc_id",
        blob.alias("media"),
        F.lit("image/ppsb").alias("media_type"),
    )


@register(
    "multimodal_binary_roundtrip",
    oracle="""
        SELECT doc_id,
               CAST(12 + octet_length(encode(text)) AS BIGINT) AS media_len,
               md5(concat('PPSB-', CAST(doc_id AS VARCHAR), '-', md5(text)))
                   AS integrity_tag
        FROM documents
    """,
)
def multimodal_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column write->read->integrity-check (reference
    binary.parquet / R7 write path). The integrity tag is derivable
    from the source text, so the DuckDB oracle can verify the
    roundtrip preserved every byte."""
    d = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(d)
    out = scratch_path("media_roundtrip")
    media.write.mode("overwrite").option("compression", "snappy").parquet(out)
    back = spark.read.parquet(out)
    text_back = F.decode(F.expr("substring(media, 13, length(media) - 12)"), "utf-8")
    return back.select(
        "doc_id",
        F.length("media").cast("bigint").alias("media_len"),
        F.md5(
            F.concat(
                F.lit("PPSB-"),
                F.col("doc_id").cast("string"),
                F.lit("-"),
                F.md5(text_back),
            )
        ).alias("integrity_tag"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
        WITH f AS (
            SELECT doc_id,
                   16 + doc_id % 48 AS n_frames,
                   octet_length(encode(text)) AS payload_len
            FROM documents
        )
        SELECT doc_id,
               CAST(u.i AS INTEGER) AS frame_idx,
               CAST(floor(CAST(u.i AS BIGINT) * payload_len / n_frames) AS BIGINT)
                   AS frame_offset
        FROM f CROSS JOIN unnest(range(0, n_frames, 8)) AS u(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like binary payloads: every 8th frame
    index plus its byte offset into the payload. The decode is the
    stub header (frame count = fake height), but the Spark shape is the
    real one — per-row explode of sampled indices, all JVM-side, no
    Python in the loop; a real codec would replace the offset
    arithmetic with a seek+decode inside mapInPandas (see
    multimodal_decode_features for that batch pattern)."""
    d = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(d)
    # frame count = fake header height; payload bytes follow the header
    n_frames = 16 + F.col("doc_id") % 48
    payload_len = F.length("media") - 12
    idx = F.sequence(F.lit(0), n_frames - 1, F.lit(8))
    return media.select(
        "doc_id",
        n_frames.alias("n_frames"),
        payload_len.cast("bigint").alias("payload_len"),
        F.explode(idx).alias("frame_idx"),
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.floor(
            F.col("frame_idx").cast("bigint")
            * F.col("payload_len")
            / F.col("n_frames")
        )
        .cast("bigint")
        .alias("frame_offset"),
    )


@register(
    "multimodal_decode_features",
    oracle="""
        SELECT doc_id,
               CAST(16 + doc_id % 64 AS INTEGER) AS width,
               CAST(16 + doc_id % 48 AS INTEGER) AS height,
               md5(text) AS content_md5
        FROM documents
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over binary media via mapInPandas.

    The Arrow batch plumbing (binary column in, struct of features
    out, per-partition batching) is the real 100 TB pattern; only the
    innermost decode call is the deterministic stub. The digest covers
    the payload BODY (the media bytes after the 12-byte header): the
    header is independently verified via width/height, and a body
    digest is what DuckDB can recompute from the source text — turning
    this from a rows-only check into a full hash oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(d).repartition(8, "doc_id")

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, digests = [], [], []
            for payload in pdf["media"]:
                raw = bytes(payload)
                w, h = _decode_fake_header(raw)
                widths.append(w)
                heights.append(h)
                digests.append(hashlib.md5(raw[12:]).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": widths,
                    "height": heights,
                    "content_md5": digests,
                }
            )

    return media.mapInPandas(
        decode_batch,
        schema="doc_id long, width int, height int, content_md5 string",
    )


@register(
    "multimodal_audio_chunks",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   octet_length(encode(text)) AS payload_len,
                   64 + (doc_id % 3) * 32 AS chunk_bytes
            FROM documents
        )
        SELECT doc_id,
               CAST(u.i AS BIGINT) AS chunk_idx,
               12 + u.i * chunk_bytes AS byte_start,
               least(chunk_bytes, payload_len - u.i * chunk_bytes)
                   AS byte_len,
               CAST(floor(
                   least(chunk_bytes, payload_len - u.i * chunk_bytes)
                   * 1000.0 / 32000
               ) AS BIGINT) AS duration_ms
        FROM m CROSS JOIN unnest(
            range(0, CAST(ceil(payload_len / CAST(chunk_bytes AS DOUBLE))
                          AS BIGINT))
        ) u(i)
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style chunk planning over binary payloads: treat the
    post-header bytes as PCM16@16kHz and emit fixed-size chunk spans
    (variable chunk size per doc) with byte offsets and durations —
    the seek table a transcription pipeline feeds to its decoder. All
    JVM integer arithmetic; the actual PCM decode is the documented
    stub boundary (multimodal.py decode), the planning is real and
    oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(d)
    payload_len = (F.length("media") - 12).cast("bigint")
    chunk_bytes = (64 + (F.col("doc_id") % 3) * 32).cast("bigint")
    n_chunks = F.ceil(payload_len / chunk_bytes.cast("double")).cast("bigint")
    chunked = media.select(
        "doc_id",
        payload_len.alias("payload_len"),
        chunk_bytes.alias("chunk_bytes"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    byte_len = F.least(
        F.col("chunk_bytes"),
        F.col("payload_len") - F.col("chunk_idx") * F.col("chunk_bytes"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        (12 + F.col("chunk_idx") * F.col("chunk_bytes")).alias("byte_start"),
        byte_len.alias("byte_len"),
        F.floor(byte_len * 1000.0 / 32000).cast("bigint").alias("duration_ms"),
    )


_RESIZE_MAX_SIDE = 32


@register(
    "multimodal_image_resize_plan",
    oracle=f"""
        WITH dims AS (
            SELECT doc_id,
                   16 + doc_id % 64 AS in_w,
                   16 + doc_id % 48 AS in_h
            FROM documents
        )
        SELECT doc_id,
               CAST(in_w AS BIGINT) AS in_w,
               CAST(in_h AS BIGINT) AS in_h,
               CAST(CASE WHEN greatest(in_w, in_h) <= {_RESIZE_MAX_SIDE}
                         THEN in_w
                         ELSE greatest(floor(in_w * {_RESIZE_MAX_SIDE}
                                             / greatest(in_w, in_h)), 1)
                    END AS BIGINT) AS out_w,
               CAST(CASE WHEN greatest(in_w, in_h) <= {_RESIZE_MAX_SIDE}
                         THEN in_h
                         ELSE greatest(floor(in_h * {_RESIZE_MAX_SIDE}
                                             / greatest(in_w, in_h)), 1)
                    END AS BIGINT) AS out_h,
               CAST(CASE WHEN greatest(in_w, in_h) <= {_RESIZE_MAX_SIDE}
                         THEN in_w
                         ELSE greatest(floor(in_w * {_RESIZE_MAX_SIDE}
                                             / greatest(in_w, in_h)), 1)
                    END
                    * CASE WHEN greatest(in_w, in_h) <= {_RESIZE_MAX_SIDE}
                           THEN in_h
                           ELSE greatest(floor(in_h * {_RESIZE_MAX_SIDE}
                                               / greatest(in_w, in_h)), 1)
                      END * 3 AS BIGINT) AS out_bytes
        FROM dims
    """,
)
def multimodal_image_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE over Arrow batches: each batch's payload headers
    are decoded in the Pandas worker (the stub decoder —
    _decode_fake_header stands in for PIL/libjpeg, which this
    environment cannot install), target dimensions are computed to fit
    a {_RESIZE_MAX_SIDE}px bounding box preserving aspect ratio, and
    the output-buffer size (RGB bytes) is planned per image. The
    mapInPandas plumbing — schema, Arrow batching, binary column in,
    typed metadata out — is real and oracle-checked against pure
    arithmetic on the deterministic header values; only the pixel
    resample itself is stubbed (it would run here, batch-local, with
    the real codec). Completes the decode / feature-extract / resize /
    frame-sample multimodal quartet (reference binary.parquet, R7)."""
    d = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(d).repartition(8, "doc_id")

    def plan_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                w, h = _decode_fake_header(bytes(payload))
                side = max(w, h)
                if side <= _RESIZE_MAX_SIDE:
                    ow, oh = w, h
                else:
                    ow = max(w * _RESIZE_MAX_SIDE // side, 1)
                    oh = max(h * _RESIZE_MAX_SIDE // side, 1)
                # pixel resample stubbed: a real kernel would produce
                # an ow*oh*3 buffer right here, batch-local
                rows.append((doc_id, w, h, ow, oh, ow * oh * 3))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "in_w", "in_h", "out_w", "out_h", "out_bytes"
                ],
            )

    return media.mapInPandas(
        plan_batch,
        "doc_id long, in_w long, in_h long, out_w long, out_h long, "
        "out_bytes long",
    )


_CAS_CHUNK = 64  # bytes per chunk


@register(
    "binary_chunk_store",
    oracle=f"""
        WITH chunks AS (
            SELECT md5(substr(text, CAST(i AS INTEGER), {_CAS_CHUNK})) AS ch
            FROM documents,
                 LATERAL (SELECT unnest(range(1, length(text) + 1,
                                              {_CAS_CHUNK})) AS i)
        )
        SELECT count(*) AS total_chunks,
               count(DISTINCT ch) AS unique_chunks,
               count(*) - count(DISTINCT ch) AS dup_chunks,
               round(1.0 - CAST(count(DISTINCT ch) AS DOUBLE) / count(*), 4)
                   AS dedup_pct
        FROM chunks
    """,
)
def binary_chunk_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed chunk store statistics: payloads split into
    fixed {_CAS_CHUNK}-byte chunks, each addressed by md5 — duplicate
    chunks across documents are stored ONCE (the rsync/CAS/blob-store
    dedup model, the storage-layer complement of document-level
    dedup_exact). Output is the capacity-planning summary: chunk
    counts and the deduplication percentage. Chunking and hashing are
    map-side (sequence + transform + explode); only the 16-byte chunk
    hashes shuffle for the distinct count — at 100 TB the payload
    bytes never leave their scan tasks. Reference tie: binary.parquet
    / the write path's content-integrity discipline (R7)."""
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.length("text"), F.lit(_CAS_CHUNK)
    )
    chunks = d.select(
        F.explode(
            F.transform(
                starts,
                lambda i: F.md5(F.substring(F.col("text"), i, _CAS_CHUNK)),
            )
        ).alias("ch")
    )
    return chunks.agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.count_distinct("ch").alias("unique_chunks"),
        (F.count(F.lit(1)) - F.count_distinct("ch")).alias("dup_chunks"),
        F.round(
            1.0 - F.count_distinct("ch").cast("double") / F.count(F.lit(1)), 4
        ).alias("dedup_pct"),
    )


# ---------------------------------------------------------------------------
# multimodal_webdataset_shards — greedy size-budget tar-shard planning

_WDS_BUDGET = 10000  # bytes (n_chars proxy) per shard


@register(
    "multimodal_webdataset_shards",
    oracle=f"""
        WITH per_src AS (
            SELECT source,
                   list(doc_id ORDER BY doc_id) AS docs,
                   list(CAST(n_chars AS DOUBLE) ORDER BY doc_id) AS sizes
            FROM documents GROUP BY source
        ),
        packed AS (
            -- accumulator layout: [current_shard_bytes, break_idx...]
            -- (break = 1-based element index that OPENS a new shard);
            -- state stays #shards-sized, so the fold is O(n * shards),
            -- never O(n^2)
            SELECT source, docs, sizes,
                   list_reduce(
                       list_prepend([0.0],
                           [ [CAST(i AS DOUBLE), sizes[CAST(i AS INTEGER)]]
                             FOR i IN range(1, len(sizes) + 1) ]),
                       (a, b) -> CASE
                           WHEN a[1] + b[2] > {_WDS_BUDGET}
                           THEN list_concat(list_concat([b[2]],
                                    a[2:len(a)]), [b[1]])
                           ELSE list_concat([a[1] + b[2]], a[2:len(a)])
                       END) AS st
            FROM per_src
        ),
        rows_ AS (
            SELECT source,
                   unnest(docs) AS doc_id,
                   unnest(sizes) AS sz,
                   unnest([ 1 + len(list_filter(st[2:len(st)], x -> x <= i))
                            FOR i IN range(1, len(sizes) + 1) ]) AS shard
            FROM packed
        )
        SELECT source, CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(sz) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM rows_
        GROUP BY source, shard
        ORDER BY source, shard
    """,
)
def multimodal_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar-shard planning: pack each source's samples
    IN ORDER into shards, closing a shard when the next sample would
    push it past the {_WDS_BUDGET}-byte budget (n_chars stands in for
    payload bytes; with real image/audio blobs the same plan keys on
    the binary column's length). Order-preserving greedy packing is
    the WebDataset/tar contract — samples that were adjacent in the
    source stay adjacent on disk for sequential-read training — which
    makes it inherently a per-source sequential fold, NOT a
    floor(cumsum/budget) bucketing (that rule lets a sample span a
    shard boundary; greedy never does). Output: the shard manifest a
    packing job would write (per-shard sample count, byte total,
    first/last doc).

    The fold carries ONLY [current shard bytes, break indices...] —
    state is #shards-sized, so per-element work is O(shards), not
    O(n): a first version that accumulated the full per-sample
    assignment array measured 27x at 10x data (sf0.1 0.47 s -> sf1
    12.9 s, quadratic array copying); this formulation re-measured
    0.5 s -> ~1 s. Per-sample shard ids are then recovered as
    1 + |breaks <= idx| — O(n x shards) JVM expression work.

    Scale shape: groupBy source (the natural pack unit — production
    packs each source/date partition independently, which also bounds
    the break list), bounded state per group, one map-combinable
    manifest readout. No global order, no driver loop."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_chars"))
        ).alias("ds")
    )
    docs = F.transform(F.col("ds"), lambda x: x["doc_id"])
    sizes = F.transform(F.col("ds"), lambda x: x["n_chars"].cast("double"))
    budget = float(_WDS_BUDGET)

    n = F.size(F.col("ds"))

    def step(a, i):
        sz = F.element_at(F.col("szs"), i.cast("int"))
        cur = F.element_at(a, 1)
        breaks = F.slice(a, 2, F.size(a) - 1)
        return (
            F.when(
                cur + sz > budget,
                F.concat(
                    F.array(sz), breaks, F.array(i.cast("double"))
                ),
            ).otherwise(F.concat(F.array(cur + sz), breaks))
        )

    with_st = per_src.withColumn("szs", sizes).withColumn(
        "st",
        F.aggregate(
            F.sequence(F.lit(1), n), F.array(F.lit(0.0)), step
        ),
    )
    breaks = F.slice(F.col("st"), 2, F.size(F.col("st")) - 1)
    shards = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: 1
        + F.size(F.filter(breaks, lambda b: b <= i.cast("double"))),
    )
    rows = with_st.select(
        "source",
        F.explode(
            F.arrays_zip(
                docs.alias("doc_id"),
                F.col("szs").alias("sz"),
                shards.alias("shard"),
            )
        ).alias("z"),
    ).select(
        "source",
        F.col("z.doc_id").alias("doc_id"),
        F.col("z.sz").alias("sz"),
        F.col("z.shard").alias("shard"),
    )
    return (
        rows.groupBy("source", F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("sz").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard")
    )


@register(
    "multimodal_dedup_content_hash",
    oracle="""
        WITH payloads AS (
            SELECT md5(text) AS fp,
                   CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
            FROM documents
        ),
        groups AS (
            SELECT fp, nbytes, count(*) AS n_copies
            FROM payloads GROUP BY fp, nbytes
        )
        SELECT CAST(sum(n_copies) AS BIGINT) AS n_blobs,
               CAST(count(*) AS BIGINT) AS n_unique_payloads,
               CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dupe_groups,
               CAST(sum(n_copies - 1) AS BIGINT) AS n_redundant_copies,
               CAST(sum((n_copies - 1) * nbytes) AS BIGINT)
                   AS wasted_bytes,
               CAST(floor(CAST(count(*) AS DOUBLE) / sum(n_copies)
                          * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS unique_ratio
        FROM groups
    """,
)
def multimodal_dedup_content_hash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-addressed dedup audit for the binary media column —
    the FIRST dedup every multimodal pipeline runs (hash the payload,
    never decode): fingerprint each blob's PAYLOAD bytes (the header
    is doc-specific metadata, so hashing the whole blob would hide
    byte-identical content behind differing dimensions — the classic
    content-addressing mistake), count copies per fingerprint, and
    report the storage redundancy a CAS layer would reclaim. A clean
    corpus reports zero dupe groups — that IS the answer the audit
    exists to confirm before ingest.

    The Spark side computes md5 over the real binary slice
    (substring(media, 13, ...)), exercising binary ops end-to-end;
    the oracle derives the identical fingerprint from the source
    text (payload bytes == utf-8 text by construction — the
    multimodal_binary_roundtrip derivability contract).

    Scale shape: one map-side hash projection + one fingerprint
    groupBy (the shuffle carries 16-byte digests, not blobs) + a
    1-row readout — exactly how CAS dedup runs at petabyte scale."""
    d = load_table(spark, sf_dir, "documents")
    media = with_binary_payload(d)
    payloads = media.select(
        F.md5(
            F.expr("substring(media, 13, length(media) - 12)")
        ).alias("fp"),
        (F.length("media") - 12).cast("bigint").alias("nbytes"),
    )
    groups = payloads.groupBy("fp", "nbytes").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return groups.agg(
        F.sum("n_copies").cast("bigint").alias("n_blobs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_payloads"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dupe_groups"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias(
            "n_redundant_copies"
        ),
        F.sum((F.col("n_copies") - 1) * F.col("nbytes"))
        .cast("bigint")
        .alias("wasted_bytes"),
        (
            F.floor(
                F.count(F.lit(1)).cast("double")
                / F.sum("n_copies")
                * 1000000.0
                + 0.5
            ).cast("double")
            / 1000000.0
        ).alias("unique_ratio"),
    )
