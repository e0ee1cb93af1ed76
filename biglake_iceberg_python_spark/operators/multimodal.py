"""Multimodal columns: opaque binary payloads + typed metadata (SURVEY.md
§2B [EXT]).

The pattern for image/audio/video at 100 TB: the payload is a BinaryType
column (or a reference to object storage), metadata is a typed struct
sibling, and decode/feature-extraction runs as Arrow-batched pandas
functions over ``mapInPandas`` — Spark never interprets the bytes, so the
plan (partitioning, pushdown on metadata, column pruning that skips the
payload entirely) is unaffected by payload size.

The container has no image/audio codecs, so the decode step is a
deterministic stub behind ``decode_image_stub`` (documented NotImplemented
path for real codecs); the Spark-side plumbing — schema, batching, UDF
signatures — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from biglake_iceberg_python_spark.functions.exprs import (
    oracle_valid_embeddings,
    oracle_words,
    valid_embedding,
    words,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Ship this module's pandas functions BY VALUE: the driver that owns the
# SparkSession may import this package from a path its Python workers don't
# have on sys.path (cloudpickle's default by-reference pickling would then
# raise ModuleNotFoundError worker-side). Registration makes every closure
# defined here self-contained on the wire.
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

# Schema of the decoded-feature output of the mapInPandas stage.
_DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def decode_image_stub(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder.

    Real implementation would be e.g. ``PIL.Image.open(io.BytesIO(payload))``
    — unavailable in this container. The stub derives (width, height,
    checksum) from the bytes themselves so tests are reproducible.

    Raises NotImplementedError for payloads tagged as real codecs, making
    the seam where a codec library plugs in explicit.
    """
    if payload[:4] in (b"\x89PNG", b"RIFF", b"\xff\xd8\xff\xe0"):
        raise NotImplementedError("real image codecs not available in this build")
    checksum = 0
    # Code-point walk, not byte walk: the SQL twin replays the hash with
    # ord(substr(text, i, 1)) — code points — and on multibyte text a
    # byte walk diverges. Identical on
    # ASCII, where byte == code point. The stub's payload contract is
    # therefore UTF-8 text bytes; any other binary payload is by
    # definition a real-codec payload, which is this build's explicit
    # NotImplementedError seam — not a UnicodeDecodeError escaping a
    # Python worker.
    try:
        data = payload.decode("utf-8")
    except UnicodeDecodeError as exc:
        raise NotImplementedError(
            "non-UTF-8 binary payload: plug in a real codec at this seam"
        ) from exc
    for ch in data[:64]:
        checksum = (checksum * 31 + ord(ch)) % (1 << 31)
    width = 16 + checksum % 1024
    height = 16 + (checksum // 1024) % 1024
    return width, height, checksum


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batches in, decoded-feature batches out.

    Batch-at-a-time (not row-at-a-time Python UDF): amortizes serialization
    and lets a real decoder release the GIL / use vectorized libs.
    """
    for pdf in batches:
        # NULL payload = nothing to decode: skip the row (bytes(None)
        # raises in the worker), exactly
        # as the oracle's recursive CTE drops NULL-text docs. Empty
        # payloads stay: checksum 0, the 16x16 floor dimensions.
        pdf = pdf[pdf["payload"].notna()]
        decoded = [decode_image_stub(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "media_type": pdf["media_type"].values,
                "payload_bytes": pdf["payload"].map(len).astype("int32").values,
                "width": pd.Series([d[0] for d in decoded], dtype="int32"),
                "height": pd.Series([d[1] for d in decoded], dtype="int32"),
                "checksum": pd.Series([d[2] for d in decoded], dtype="int64"),
            }
        )


def _with_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → multimodal frame: binary payload + typed metadata struct.

    (The testdata has no real media files; text bytes stand in for the
    payload. With real data this is ``spark.read.format("binaryFile")`` or a
    parquet table with a binary column — identical downstream plan.)
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload").cast(BinaryType()),
        F.struct(
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
            F.col("n_chars").alias("n_chars"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
        F.lit("synthetic").alias("media_type"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_payloads,
      -- strlen, not length: the payload is the UTF-8 ENCODING of text,
      -- so its size is bytes, not code points.
      CAST(SUM(strlen(text)) AS BIGINT) AS total_payload_bytes,
      CAST(MAX(strlen(text)) AS BIGINT) AS max_payload_bytes,
      min(md5(text)) AS min_payload_md5
    FROM documents
    GROUP BY source
    """,
    tags=("llm", "multimodal"),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass: byte sizes + content digest per source,
    computed on the BinaryType payload without ever decoding it.

    Column pruning matters here: queries touching only ``meta`` never read
    payload bytes from parquet — the core reason to model media as a
    sibling binary column. (ASCII text ⇒ payload bytes == text chars, which
    is what lets DuckDB oracle-check the binary path.)
    """
    mm = _with_binary_payload(spark, sf_dir)
    return mm.groupBy(F.col("meta.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum(F.length("payload")).cast("long").alias("total_payload_bytes"),
        F.max(F.length("payload")).cast("long").alias("max_payload_bytes"),
        F.min(F.md5("payload")).alias("min_payload_md5"),
    )


@query(
    "multimodal_decode_features",
    # The decode stub's (width, height, checksum) derivation is a
    # 31-polynomial rolling hash mod 2^31 over the first 64 CODE POINTS of
    # the decoded payload — SQL-expressible because ord(substr(text, i, 1))
    # is exactly the stub's ord(ch) on every engine (byte == code point on
    # ASCII, and the multibyte case is pinned), so a
    # recursive CTE replays the exact per-doc checksum and the aggregate is
    # hash-checked rather than rows-only.
    oracle="""
    WITH RECURSIVE pref AS (
      SELECT doc_id, substr(text, 1, 64) AS s,
             length(substr(text, 1, 64)) AS len
      FROM documents
    ), roll AS (
      SELECT doc_id, s, len, 1 AS i,
             CAST(ord(substr(s, 1, 1)) AS BIGINT) AS c
      FROM pref WHERE len >= 1
      UNION ALL
      SELECT doc_id, s, len, i + 1,
             (c * 31 + ord(substr(s, i + 1, 1))) % 2147483648
      FROM roll WHERE i < len
    ), cks AS (
      SELECT doc_id, c FROM roll WHERE i = len
      UNION ALL
      SELECT doc_id, CAST(0 AS BIGINT) AS c FROM pref WHERE len = 0
    ), feat AS (
      SELECT d.doc_id, strlen(d.text) AS nbytes, k.c,
             16 + k.c % 1024 AS width,
             16 + (k.c // 1024) % 1024 AS height
      FROM documents d JOIN cks k USING (doc_id)
    )
    SELECT 'synthetic' AS media_type,
           CAST(COUNT(*) AS BIGINT) AS n_decoded,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           CAST(MIN(width) AS INTEGER) AS min_width,
           CAST(MAX(height) AS INTEGER) AS max_height,
           CAST(SUM(c) AS BIGINT) AS checksum_sum
    FROM feat
    HAVING COUNT(*) > 0
    """,
    tags=("llm", "multimodal", "mapInPandas"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract pipeline over binary payloads via mapInPandas:
    payload → (width, height, checksum) per doc, aggregated per media_type.

    The Arrow batch path is the pattern for real decoders (resize, frame
    sample, spectrogram): payload partitions stream through Python workers
    batch-wise; downstream aggregation stays JVM-side.

    Empty-corpus policy: no media strata (the oracle's global agg keeps
    its COUNT=0 row where Spark's groupBy emits none — both sides filter
    it, a no-op on any non-empty corpus).
    """
    mm = _with_binary_payload(spark, sf_dir)
    decoded = mm.select("doc_id", "media_type", "payload").mapInPandas(
        _decode_batches, schema=_DECODED_SCHEMA
    )
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_decoded"),
            F.sum("payload_bytes").cast("long").alias("total_bytes"),
            F.min("width").alias("min_width"),
            F.max("height").alias("max_height"),
            F.sum("checksum").cast("long").alias("checksum_sum"),
        )
        .where(F.col("n_decoded") > 0)
    )


# Frame sampling: fixed-size byte windows at a fixed stride — the
# deterministic stand-in for "every Nth video frame" that keeps the real
# 1→N mapInPandas shape (one input row explodes to a variable number of
# output rows inside the Arrow batch).
_FRAME_LEN = 64
_FRAME_STRIDE = 256
_MAX_FRAMES = 8

_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def _frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_md5": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # NULL payload → zero frames, like the oracle's NULL-length join
            # predicate. Code-point windows, not byte windows: a byte window
            # can split a multibyte character mid-sequence, which the SQL
            # twin's substr cannot express; each frame is md5'd over its UTF-8
            # re-encoding, the same bytes DuckDB's md5(substr(..)) hashes.
            # Identical on ASCII payloads. Same UTF-8 payload contract as
            # decode_image_stub: a non-UTF-8 payload is a real-media payload
            # and surfaces as the explicit codec seam rather than a stray
            # UnicodeDecodeError.
            try:
                data = (
                    bytes(payload).decode("utf-8")
                    if payload is not None
                    else ""
                )
            except UnicodeDecodeError as exc:
                raise NotImplementedError(
                    "non-UTF-8 binary payload: plug in a real frame "
                    "decoder at this seam"
                ) from exc
            for i in range(_MAX_FRAMES):
                start = i * _FRAME_STRIDE
                if start + _FRAME_LEN > len(data):
                    break
                frame = data[start : start + _FRAME_LEN]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_md5"].append(
                    hashlib.md5(frame.encode("utf-8")).hexdigest()
                )
        yield pd.DataFrame(out)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT
      d.doc_id,
      CAST(g.i AS INTEGER) AS frame_idx,
      md5(substr(d.text, CAST(g.i AS INTEGER) * {_FRAME_STRIDE} + 1,
                 {_FRAME_LEN})) AS frame_md5
    FROM documents d
    JOIN generate_series(0, {_MAX_FRAMES - 1}) AS g(i)
      ON CAST(g.i AS INTEGER) * {_FRAME_STRIDE} + {_FRAME_LEN}
         <= length(d.text)
    """,
    tags=("llm", "multimodal", "mapInPandas"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads via mapInPandas: each payload
    explodes to ≤{_MAX_FRAMES} fixed-size frames (every {_FRAME_STRIDE}th
    byte offset), digested per frame — the plumbing shape of real video
    frame extraction (1 row in → N rows out inside an Arrow batch).

    Unlike the decode stub, this operator is fully oracle-checked: the
    frame windows are code-point slices of the decoded payload, so DuckDB
    reproduces them
    with substr+md5 — proving the Python-worker path (Arrow transfer, batch
    explode, schema) returns exactly what the declarative twin computes.
    At 100 TB the same pipeline carries real frame tensors; digests/
    features flow back to JVM aggregation, payloads never do.
    """
    mm = _with_binary_payload(spark, sf_dir)
    return mm.select("doc_id", "payload").mapInPandas(
        _frame_sample_batches, schema=_FRAME_SCHEMA
    )


@query(
    "multimodal_dedup_payload",
    oracle="""
    WITH h AS (
      SELECT md5(text) AS ph, COUNT(*) AS cnt, MAX(strlen(text)) AS nbytes
      FROM documents GROUP BY md5(text)
    )
    SELECT
      CAST(SUM(cnt) AS BIGINT) AS n_payloads,
      CAST(COUNT(*) AS BIGINT) AS n_distinct_payloads,
      CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_instances,
      CAST(SUM((cnt - 1) * nbytes) AS BIGINT) AS reclaimable_bytes
    FROM h
    """,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_dedup_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column: group by content digest
    (md5 of the raw bytes, computed in codegen without decoding), count
    duplicate instances, and account the storage a dedup pass would
    reclaim — the media analog of text dedup_exact, and the first step of
    any image/audio corpus build (identical files are the dominant
    duplicate class in crawled media).

    One shuffle, carrying (digest, count, size) — 40-ish bytes per
    DISTINCT payload; the payloads themselves never move. ASCII payloads
    make the byte-level digest oracle-checkable against md5(text).
    """
    mm = _with_binary_payload(spark, sf_dir)
    h = mm.groupBy(F.md5("payload").alias("ph")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(F.length("payload")).alias("nbytes"),
    )
    return h.agg(
        F.sum("cnt").cast("long").alias("n_payloads"),
        F.count(F.lit(1)).alias("n_distinct_payloads"),
        F.sum(F.col("cnt") - 1).cast("long").alias("n_dup_instances"),
        F.sum((F.col("cnt") - 1) * F.col("nbytes"))
        .cast("long")
        .alias("reclaimable_bytes"),
    )


@query(
    "multimodal_training_record",
    oracle=f"""
    WITH rec AS (
      SELECT
        d.source,
        len({oracle_words('d.text')})
          AS n_tokens,
        strlen(d.text) AS payload_bytes,
        CAST(FLOOR(1e6 * sqrt(list_dot_product(
               embeddings.embedding::DOUBLE[], embeddings.embedding::DOUBLE[])))
             AS BIGINT) AS norm_micro
      FROM documents d
      JOIN {oracle_valid_embeddings(nonzero=False)}
        ON d.doc_id = embeddings.vec_id
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_records,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(payload_bytes) AS BIGINT) AS total_payload_bytes,
      CAST(SUM(norm_micro) AS BIGINT) AS sum_embed_norm_micro
    FROM rec
    GROUP BY source
    """,
    tags=("llm", "multimodal", "assembly", "join"),
)
def multimodal_training_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal SAMPLE ASSEMBLY — the step that turns per-modality
    tables into training records: text (documents), the binary payload,
    and the precomputed embedding (embeddings) join on the shared doc id
    into one record, then per-source accounting (records, token budget,
    payload bytes, embedding-norm mass) feeds the pack/mix planners.

    The join IS the operator: at 100 TB both modality tables co-partition
    on the id key (one shuffle per side — or zero if stored bucketed /
    partitioned the same way), payload bytes ride the join but are never
    interpreted, and the embedding norm is a codegen fold. The norm is
    floor-quantized to integer MICROS before the sum (both engines floor
    the same IEEE double), keeping the aggregate order-independent int64
    — the same exactness convention as the LM-surprisal sums.
    """
    mm = _with_binary_payload(spark, sf_dir)
    # Records need a valid embedding (invalid rows drop out of the join
    # on both engines; zero-norm stays, norm 0 is representable — and a
    # FINITE huge component would overflow the norm's BIGINT
    # micro-quantization). A NULL payload tokenizes to zero tokens.
    e = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ev, ev, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    tokens = F.size(words(F.decode("payload", "UTF-8")))
    rec = mm.join(e, mm["doc_id"] == e["vec_id"]).select(
        F.col("meta.source").alias("source"),
        tokens.alias("n_tokens"),
        F.length("payload").alias("payload_bytes"),
        F.floor(F.lit(1e6) * F.sqrt(dot)).cast("long").alias("norm_micro"),
    )
    return rec.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("payload_bytes").cast("long").alias("total_payload_bytes"),
        F.sum("norm_micro").cast("long").alias("sum_embed_norm_micro"),
    )


# Perceptual-hash near-dup: 60-bit pHashes (15 md5 hex digits → always
# positive in a signed 64-bit lane on both engines), synthesized so that
# payloads in the same content group differ by <= 4 flipped bits — the
# "same image, different encode/crop" regime a real pHash produces.
_PHASH_GROUPS = 40
_PHASH_BANDS = 5  # 5 bands x 12 bits: Hamming <= 4 => >= 1 band identical
_PHASH_BAND_BITS = 12
_PHASH_MAX_HAMMING = 4


def _phash_sql_duckdb() -> str:
    """DuckDB expression for the synthetic per-doc pHash."""
    base = (
        f"('0x' || substr(md5('grp:' || CAST(doc_id % {_PHASH_GROUPS} AS VARCHAR)),"
        " 1, 15))::BIGINT"
    )
    n1 = f"CASE WHEN doc_id % 3 = 0 THEN (1::BIGINT << CAST(doc_id % 60 AS INT)) ELSE 0 END"
    n2 = f"CASE WHEN doc_id % 5 = 0 THEN (1::BIGINT << CAST((doc_id * 7) % 60 AS INT)) ELSE 0 END"
    return f"xor(xor({base}, {n1}), {n2})"


@query(
    "multimodal_phash_neardup",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_phash_sql_duckdb()} AS ph FROM documents
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= {_PHASH_MAX_HAMMING}
    """,
    tags=("llm", "multimodal", "dedup", "phash"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for media payloads — the
    multimodal sibling of SimHash text dedup: re-encodes/crops of the same
    image produce pHashes within a few flipped bits, and dedup finds pairs
    within Hamming distance {k}.

    The corpus has no real media, so pHashes are synthesized IN-QUERY
    (same expression both engines): docs share a content group whose base
    hash gets ≤2 doc-specific bit flips — exactly the cluster structure a
    real pHash yields. The ENGINE never does the O(n²) scan the oracle
    does: 5 bands × 12 bits bucket-join candidates, and the pigeonhole
    guarantees completeness (Hamming ≤ 4 forces ≥1 identical band), so the
    banded result EXACTLY equals the brute-force pair set — an
    approximate-shaped plan with an exact oracle, like the band-bucketed
    range join.

    100 TB: signatures are codegen bit arithmetic; the shuffle carries
    (band, 12-bit value) keys and candidate pairs only — never payloads,
    never n² comparisons.
    """
    d = load_table(spark, sf_dir, "documents")
    base = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("grp:"), (F.col("doc_id") % _PHASH_GROUPS).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    n1 = F.when(
        F.col("doc_id") % 3 == 0,
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    n2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 7) % 60 AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    h = d.select("doc_id", base.bitwiseXOR(n1).bitwiseXOR(n2).alias("ph"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("ph"), b * _PHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << _PHASH_BAND_BITS) - 1))
                .alias("bval"),
            )
            for b in range(_PHASH_BANDS)
        ]
    )
    keyed = h.select("doc_id", "ph", F.explode(bands).alias("bk")).select(
        "doc_id", "ph", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval")
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("ph").alias("ph_a"), "band", "bval"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("ph").alias("ph_b"), "band", "bval"
    )
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= _PHASH_MAX_HAMMING)


@query(
    "multimodal_content_sniff_audit",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN 'png' || text
             WHEN doc_id % 7 = 0 THEN 'riff' || text
             WHEN doc_id % 5 = 0 THEN 'jpg' || text
             ELSE text END AS body,
        CASE WHEN doc_id % 3 = 0 THEN 'image/png' ELSE 'text/plain' END
          AS declared_mime
      FROM documents
    ), sniffed AS (
      SELECT doc_id, declared_mime,
        CASE WHEN body LIKE 'png%' THEN 'image/png'
             WHEN body LIKE 'riff%' THEN 'audio/wav'
             WHEN body LIKE 'jpg%' THEN 'image/jpeg'
             ELSE 'text/plain' END AS sniffed_mime
      FROM tagged
    )
    SELECT
      declared_mime,
      sniffed_mime,
      CAST(COUNT(*) AS BIGINT) AS n_payloads,
      CAST(COUNT(*) FILTER (WHERE declared_mime <> sniffed_mime) AS BIGINT)
        AS n_mismatched
    FROM sniffed
    GROUP BY declared_mime, sniffed_mime
    """,
    tags=("llm", "multimodal", "content-sniffing", "safety"),
)
def multimodal_content_sniff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type sniffing audit — the ingestion safety check that
    catches payloads whose MAGIC BYTES contradict their declared MIME
    (mislabeled uploads, polyglot files, extension spoofing): detect the
    true type from leading bytes and cross-tabulate against the declared
    type; every off-diagonal cell is a quarantine candidate.

    The corpus has no real media, so deterministic marker prefixes and
    declared types are injected in-query by the same expression on both
    engines (the PII/URL injection pattern) — the machinery under test
    (prefix dispatch over payload bytes, declared-vs-detected
    cross-tab) is the production path, a pure map over the scan plus a
    tiny cross-tab rollup. On real BinaryType payloads the LIKE dispatch
    becomes `substring(payload, 1, 4)` against magic-byte literals —
    identical plan shape.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body = (
        F.when(did % 11 == 0, F.concat(F.lit("png"), F.col("text")))
        .when(did % 7 == 0, F.concat(F.lit("riff"), F.col("text")))
        .when(did % 5 == 0, F.concat(F.lit("jpg"), F.col("text")))
        .otherwise(F.col("text"))
    )
    declared = F.when(did % 3 == 0, F.lit("image/png")).otherwise(
        F.lit("text/plain")
    )
    tagged = d.select(body.alias("body"), declared.alias("declared_mime"))
    sniffed = tagged.select(
        "declared_mime",
        F.when(F.col("body").startswith("png"), "image/png")
        .when(F.col("body").startswith("riff"), "audio/wav")
        .when(F.col("body").startswith("jpg"), "image/jpeg")
        .otherwise("text/plain")
        .alias("sniffed_mime"),
    )
    return sniffed.groupBy("declared_mime", "sniffed_mime").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.count(
            F.when(F.col("declared_mime") != F.col("sniffed_mime"), 1)
        ).alias("n_mismatched"),
    )
