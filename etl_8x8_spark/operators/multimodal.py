"""Multimodal column handling (BASELINE north star: image/audio/video
as opaque binary columns with typed metadata).

Registered queries:

- ``multimodal_struct``   — documents ⋈ embeddings into one typed
  nested column (text + vector modalities side by side)
- ``multimodal_decode``   — binary payload -> typed metadata
- ``multimodal_frames``   — frame sampling (1 row in, N frames out)
- ``multimodal_features`` — fixed-dim feature vector per payload
- ``multimodal_resize``   — binary in/binary out resize to a byte
  budget, audited into scalar columns in the same Python stage
  (binary cells don't hash-compare across engines — LESSONS #54)

The actual media codecs aren't in this container, so every decode/
sample/extract/resize is the REAL Spark-side plumbing (binary columns,
Arrow batching, explicit output schemas, partition parallelism) around
a clearly marked deterministic stub; swap the stub for a PIL/ffmpeg/
model call and nothing else changes. Each Python stage is sized to its
input by ``widen_for_python``: one task per ``PY_TASK_BYTES`` of the
payload projection's estimated size, at most one per slot, because
every Python task pays a fixed cost whatever its rows. The sf0.01
payloads (90 kB) run as one task with no exchange; sf0.1 (820 kB) as
two, behind one round-robin exchange of the raw payloads. The stubs
being deterministic arithmetic is what makes three of the four queries
fully DuckDB-oracle-checkable. See tests/test_llm_ops.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_8x8_spark.registry import register
from etl_8x8_spark.functions.udfs import widen_for_python
from etl_8x8_spark.sources.readers import load_table


@register(
    "multimodal_struct",
    oracle="""
SELECT d.doc_id,
       CAST(to_json(struct_pack(
         lang := d.lang,
         source := d.source,
         n_chars := d.n_chars,
         dim := len(e.embedding)
       )) AS VARCHAR) AS modality_meta,
       CAST(floor((CAST(e.embedding[1] AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6 + 0.0 AS first_component,
       e.label
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents joined to their embedding as one typed nested column:
    the pattern for carrying (text, vector, image, ...) modalities in a
    single row. The struct is serialized to JSON for cross-engine
    hashing; inside the engine it stays a StructType (columnar, prunable
    — a reader selecting ``modality.lang`` scans one leaf column).

    Scale: doc_id = vec_id is a 1:1 equi join; at 100 TB bucket both
    tables on the id so the join is shuffle-free (see BASELINE.md
    bucketing note).
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "inner")
    meta = F.struct(
        F.col("lang").alias("lang"),
        F.col("source").alias("source"),
        F.col("n_chars").alias("n_chars"),
        F.size("embedding").alias("dim"),
    )
    return joined.select(
        "doc_id",
        F.to_json(meta).alias("modality_meta"),
        # + 0.0 normalizes IEEE -0.0 (DuckDB round preserves the sign)
        ((F.floor((F.element_at("embedding", 1).cast("double")) * 1e6 + 0.5).cast("long") / F.lit(1e6)) + 0.0).alias(
            "first_component"
        ),
        "label",
    )


# ---------------------------------------------------------------------------
# binary decode plumbing (mapInPandas)
# ---------------------------------------------------------------------------

_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def _decode_payload(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder — deterministic fake in place of a real codec.

    A real implementation would be e.g.::

        img = PIL.Image.open(io.BytesIO(payload))   # not in container
        return img.width, img.height, ...

    The fake derives (width, height, checksum) from the bytes so the
    pipeline stays testable and oracle-checkable.
    """
    payload = payload or b""  # null payload == empty asset, not a crash
    width = 16 + payload[0] % 64 if payload else 0
    height = 16 + payload[-1] % 64 if payload else 0
    checksum = sum(payload) % 1_000_000_007
    return width, height, checksum


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow record batches of (doc_id, payload)
    in, typed metadata out. Partition-parallel, batch-vectorized
    transfer; only the decode itself is per-item Python (as any real
    codec call would be)."""
    for pdf in batches:
        decoded = [_decode_payload(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                "fake_width": [d[0] for d in decoded],
                "fake_height": [d[1] for d in decoded],
                "checksum": [d[2] for d in decoded],
            }
        )


@register(
    "multimodal_decode",
    oracle="""
WITH p AS (
  -- documents text is pure ASCII at every sf, so chars == bytes
  SELECT doc_id, substr(text, 1, 32) AS prefix FROM documents
)
SELECT doc_id,
       CAST(length(prefix) AS INT) AS n_bytes,
       CAST(16 + ascii(substr(prefix, 1, 1)) % 64 AS INT) AS fake_width,
       CAST(16 + ascii(substr(prefix, -1, 1)) % 64 AS INT) AS fake_height,
       CAST(list_sum(list_transform(generate_series(1, length(prefix)),
            i -> ascii(substr(prefix, i, 1)))) % 1000000007 AS BIGINT)
         AS checksum
FROM p
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary -> typed metadata via ``mapInPandas``: the binary
    column is synthesized from the document text (the testdata has no
    real media), the decode is the stub above, and the Spark-side
    plumbing — binary column, Arrow batching, explicit output schema,
    partition parallelism — is exactly what a real image/audio decode
    pass uses at 100 TB (decode cost scales per-partition, no shuffle).
    """
    docs = load_table(spark, sf_dir, "documents")
    payloads = widen_for_python(
        docs.select(
            "doc_id", F.encode(F.substring("text", 1, 32), "utf-8").alias("payload")
        )
    )
    return payloads.mapInPandas(decode_media_batch, _DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# frame sampling / feature extraction / resize — the rest of the
# multimodal pass toolkit. Same pattern as decode: real mapInPandas
# plumbing around clearly-marked stub media ops.
# ---------------------------------------------------------------------------

_FRAME_SIZE = 8  # bytes per fake "frame"
_FRAME_STRIDE = 2  # sample every 2nd frame

_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("byte_offset", T.IntegerType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)


def sample_frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one input row -> N output rows (a frame per
    stride step) — the row-expanding batch shape a video frame-sampler
    uses (a real one yields decoded JPEG bytes per frame)."""
    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "byte_offset": [], "frame_checksum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            payload = payload or b""  # null payload == empty asset
            n_frames = max(1, len(payload) // _FRAME_SIZE)
            for i in range(0, n_frames, _FRAME_STRIDE):
                chunk = payload[i * _FRAME_SIZE : (i + 1) * _FRAME_SIZE]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["byte_offset"].append(i * _FRAME_SIZE)
                out["frame_checksum"].append(sum(chunk) % 1_000_000_007)
        yield pd.DataFrame(out)


@register(
    "multimodal_frames",
    oracle=f"""
WITH p AS (
  SELECT doc_id, substr(text, 1, 32) AS prefix FROM documents
),
frames AS (
  SELECT doc_id, prefix,
         unnest(generate_series(0,
             CAST(greatest(length(prefix) // {_FRAME_SIZE}, 1) AS INT) - 1,
             {_FRAME_STRIDE})) AS frame_idx
  FROM p
)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * {_FRAME_SIZE} AS INT) AS byte_offset,
       CAST(COALESCE(list_sum(list_transform(
           generate_series(frame_idx * {_FRAME_SIZE} + 1,
                           least((frame_idx + 1) * {_FRAME_SIZE}, length(prefix))),
           i -> ascii(substr(prefix, i, 1)))), 0) % 1000000007 AS BIGINT)
         AS frame_checksum
FROM frames
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque binary column: every 2nd 8-byte
    "frame" is emitted as its own row with a checksum — the
    one-row-in/N-rows-out ``mapInPandas`` shape a video sampler needs
    (partition-parallel, no shuffle; output rows stay on the worker
    that decoded them)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = widen_for_python(
        docs.select(
            "doc_id", F.encode(F.substring("text", 1, 32), "utf-8").alias("payload")
        )
    )
    return payloads.mapInPandas(sample_frames_batch, _FRAMES_SCHEMA)


_N_FEATURES = 8


def extract_features_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: binary -> fixed-dim feature vector (byte
    histogram over _N_FEATURES buckets — the stub for an image/audio
    embedding model; a real one batches payloads through the model).
    Emitted as a comma-joined string so the result is rendering-proof
    across engines."""
    for pdf in batches:
        feats = []
        for payload in pdf["payload"]:
            payload = payload or b""  # null payload == empty asset
            hist = [0] * _N_FEATURES
            for b in payload:
                hist[b % _N_FEATURES] += 1
            feats.append(",".join(str(h) for h in hist))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})


@register(
    "multimodal_features",
    oracle=f"""
WITH p AS (
  SELECT doc_id, substr(text, 1, 32) AS prefix FROM documents
)
SELECT doc_id,
       array_to_string(list_transform(generate_series(0, {_N_FEATURES - 1}),
         b -> len(list_filter(
               list_transform(generate_series(1, length(prefix)),
                              i -> ascii(substr(prefix, i, 1))),
               c -> c % {_N_FEATURES} = b))), ',') AS features
FROM p
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over an opaque binary column: fixed-dim
    byte-histogram vector per payload via ``mapInPandas`` — the exact
    schema/batch shape an embedding-model pass uses (Arrow batches in,
    fixed-width vectors out, partition-parallel)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = widen_for_python(
        docs.select(
            "doc_id", F.encode(F.substring("text", 1, 32), "utf-8").alias("payload")
        )
    )
    return payloads.mapInPandas(
        extract_features_batch,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("features", T.StringType()),
            ]
        ),
    )


_RESIZE_BYTES = 16


def resize_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB resize: truncate/pad the payload to a fixed byte budget
    (a real implementation re-encodes pixels; the plumbing — binary in,
    binary out, same row count — is what matters)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [
                    bytes((p or b"")[:_RESIZE_BYTES]).ljust(
                        _RESIZE_BYTES, b"\0"
                    )
                    for p in pdf["payload"]
                ],
            }
        )


def _resize_audit_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Composes the REAL binary-out resize worker, then audits its
    output into scalar columns — the registered query exercises the
    binary→binary path end-to-end while emitting only driver-canon-
    safe scalars (LESSONS #54)."""
    for pdf in resize_media_batch(batches):
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "resized_bytes": [len(p) for p in pdf["payload"]],
                "resized_checksum": [
                    sum(p) % 1_000_000_007 for p in pdf["payload"]
                ],
            }
        )


@register(
    "multimodal_resize",
    oracle=f"""
WITH p AS (
  -- hex of the UTF-8 BYTES of the 32-char prefix: the contract is
  -- byte-based (the engine truncates the encoded byte stream), so the
  -- oracle must count octets, not code points — a multi-byte
  -- character contributes each of its bytes and can be split by the
  -- {_RESIZE_BYTES}-byte budget (r13 ADVICE: the old ascii()-per-char
  -- form only agreed on pure-ASCII fixtures)
  SELECT doc_id, hex(encode(substr(text, 1, 32))) AS hx FROM documents
)
SELECT doc_id,
       CAST({_RESIZE_BYTES} AS INT) AS resized_bytes,
       -- pad bytes are NUL (code 0): they change the length, never
       -- the checksum — so the sum runs over the surviving prefix
       CAST(COALESCE(list_sum(list_transform(
            generate_series(1, least(length(hx) // 2, {_RESIZE_BYTES})),
            i -> (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2*i,   1)) - 1))),
          0) % 1000000007
         AS BIGINT) AS resized_checksum
FROM p
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize over an opaque binary column — the last of the brief's
    four media passes (decode / frames / features / RESIZE) as a
    registered, oracle-checked query: every payload truncates/pads to
    a fixed {_RESIZE_BYTES}-byte budget through the binary-in/
    binary-out ``mapInPandas`` worker (the shape a real pixel
    re-encode uses — same row count, partition-parallel, no shuffle),
    then the same Python stage audits the resized bytes into scalar
    columns (constant budget length + byte checksum) so the output is
    hash-comparable across engines (binary cells are not; LESSONS
    #54's discipline applied to the binary modality).

    Scale: identical posture to multimodal_decode — per-partition
    Python cost, Arrow batch transfer. ``widen_for_python`` sizes the
    Python stage to the payloads' estimated bytes (one task per
    ``PY_TASK_BYTES``, at most one per slot), so a small input pays
    one task's fixed cost rather than one per core; at 100 TB the
    scan is already wider than the target, and the resized payloads
    stream to the sink from the worker that produced them.
    """
    docs = load_table(spark, sf_dir, "documents")
    payloads = widen_for_python(
        docs.select(
            "doc_id",
            F.encode(F.substring("text", 1, 32), "utf-8").alias("payload"),
        )
    )
    return payloads.mapInPandas(
        _resize_audit_batch,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("resized_bytes", T.IntegerType()),
                T.StructField("resized_checksum", T.LongType()),
            ]
        ),
    )


@register(
    "multimodal_binary_ingest",
    oracle="""
WITH p AS (
  SELECT doc_id, substr(text, 1, 64) AS prefix FROM documents
  WHERE doc_id % 50 = 0 AND doc_id < 1000000
)
SELECT 'doc_' || doc_id || '.bin' AS file_name,
       CAST(length(prefix) AS BIGINT) AS n_bytes,
       sha256(prefix) AS content_sha256
FROM p
""",
)
def multimodal_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-FILE ingestion via ``spark.read.format("binaryFile")`` —
    how raw media actually enters the pipeline: one file per asset on
    shared storage, read distributed as (path, length, content) rows.
    A deterministic asset directory is materialized once from document
    prefixes (one .bin per 50th doc), then scanned and content-hashed;
    the oracle regenerates name/size/digest from the same prefixes.
    Real media dirs swap the synthesized bytes for image/audio files —
    the read path, parallelism, and hashing are identical.

    Scale: binaryFile partitions by file, so a million-asset bucket
    scans wide with no driver listing bottleneck beyond the initial
    file index; for billions of small assets, pack into parquet binary
    columns (``multimodal_struct``) instead — small-file metadata cost
    dominates otherwise.
    """
    import os

    from etl_8x8_spark.sources.readers import derived

    docs = load_table(spark, sf_dir, "documents")

    def write(asset_dir: str) -> None:
        # FIXTURE SETUP, not operator dataflow: this collect writes the
        # synthetic .bin asset directory the binaryFile scan below then
        # reads — in production the asset bucket pre-exists and this
        # whole branch never runs. The doc_id < 1e6 cap (mirrored in
        # the oracle, deterministic at every SF, unlike limit()) bounds
        # the collect at 20k assets ≈ 1.3 MB driver-side, so no SF can
        # turn the fixture into an accidental full collect.
        rows = (
            docs.filter(
                (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 1_000_000)
            )
            .select("doc_id", F.substring("text", 1, 64).alias("prefix"))
            .collect()
        )
        for r in rows:
            with open(
                os.path.join(asset_dir, f"doc_{r.doc_id}.bin"), "wb"
            ) as f:
                f.write((r.prefix or "").encode("utf-8"))

    asset_dir = derived(sf_dir, "assets", ["documents"], write)
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.bin"
    ).load(asset_dir)
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


# ---------------------------------------------------------------------------
# perceptual-hash near-dup detection over binary payloads — r12
# ---------------------------------------------------------------------------

_PHASH_PREFIX = 60  # payload bytes fingerprinted (one bit per byte);
# 60 keeps the Horner fold inside BIGINT (2^60 < 2^63) while leaving
# the birthday-collision rate negligible at fleet row counts — a
# 32-bit signature saturates (~1.6e8 spurious hamming<=3 pairs at
# 500k docs); payloads shorter than 60 bytes are cycled (text twice)
# so every fingerprint has full width
_PHASH_BANDS = 4  # 15-bit bands: hamming <= 3 guarantees a shared band
_PHASH_BAND_MOD = 32768  # 2^15
_PHASH_MAX_HAM = 3
# band-bucket cap (the _CN_DEG_CAP discipline): a mega-clique of
# near-identical assets otherwise yields C(clique, 2) candidate pairs
# per band — the 100x replica's same-length copy tags manufacture
# 360-doc cliques and 22M pairs. Capped, per-bucket work is bounded
# at C(128, 2) and total candidates are linear in docs; a dedup
# pipeline recovers full cliques from the retained spanning pairs via
# connected components (dedup_cluster_cc).
_PHASH_BUCKET_CAP = 128


def phash_payload(text: "F.Column") -> "F.Column":
    """The fingerprint byte stream: the text cycled to EXACTLY
    ``_PHASH_PREFIX`` chars (mirrors the oracle's ``pay`` CTE).
    repeat-to-width, not text||text — doubling only reaches width when
    len(text) >= width/2, so a short-text corpus would otherwise
    fingerprint at a different width than the oracle. NULLIF guards
    empty/NULL text (repeat('') is '' at any count)."""
    base = F.coalesce(F.nullif(text, F.lit("")), F.lit(" "))
    reps = F.ceil(F.lit(float(_PHASH_PREFIX)) / F.length(base)).cast("int")
    return F.substring(F.repeat(base, reps), 1, _PHASH_PREFIX)


_PHASH_ORACLE = f"""
WITH pay AS (
  -- repeat-to-width, not text||text: doubling only reaches
  -- {_PHASH_PREFIX} chars when len(text) >= {_PHASH_PREFIX}//2, so a
  -- short-text corpus would fingerprint at a different width than the
  -- engine. NULLIF guards empty text (repeat('') is '' at any count).
  SELECT doc_id,
         substring(repeat(COALESCE(NULLIF(text, ''), ' '),
           CAST(ceil({_PHASH_PREFIX}.0 /
                len(COALESCE(NULLIF(text, ''), ' '))) AS INT)),
           1, {_PHASH_PREFIX}) AS s
  FROM documents
),
codes AS (
  SELECT doc_id,
         list_transform(string_split(s, ''), c -> ord(c)) AS cs
  FROM pay
),
fp AS (
  SELECT doc_id,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(cs, c -> CASE WHEN len(cs) * c >
             list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                         (a, b) -> a + b)
             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
           (acc, b) -> acc * 2 + b) AS BIGINT) AS fp
  FROM codes
),
bands_all AS (
  -- divisor cast to BIGINT FIRST: DuckDB's // with a DOUBLE operand
  -- is true division (the fractional raw then rounds on CAST) — only
  -- BIGINT // BIGINT floors exactly
  SELECT doc_id, fp, k,
         fp // CAST(power(2, 15 * k) AS BIGINT) % {_PHASH_BAND_MOD}
           AS band
  FROM fp, (SELECT unnest(generate_series(0, {_PHASH_BANDS - 1})) AS k)
),
bands AS (
  SELECT doc_id, fp, k, band FROM (
    SELECT *, row_number() OVER (PARTITION BY k, band ORDER BY doc_id)
           AS rk
    FROM bands_all
  ) WHERE rk <= {_PHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {_PHASH_MAX_HAM}
ORDER BY doc_a, doc_b
"""


@register("multimodal_phash_dedup", oracle=_PHASH_ORACLE)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over OPAQUE BINARY
    payloads — the multimodal twin of dedup_simhash: fingerprint every
    asset with a {_PHASH_PREFIX}-bit mean-threshold signature (one bit
    per payload byte: above/below the payload's mean byte value — the
    aHash algorithm with the byte stream standing in for decoded
    pixels), pigeonhole-band into {_PHASH_BANDS} 15-bit bands, and
    verify only band-sharing candidates by exact Hamming distance
    (pre-cap, hamming ≤ {_PHASH_MAX_HAM} ⟹ some band identical —
    never all pairs; the {_PHASH_BUCKET_CAP}-doc bucket cap truncates
    that recall guarantee inside mega-cliques, where the retained
    spanning pairs + connected components recover full clusters).
    The payload is the same deterministic text-prefix byte stream the
    other multimodal stubs use (multimodal.py header); a real pipeline
    swaps the byte source for decoded 8×8 luma and NOTHING else in
    the plan changes.

    Exactness: byte codes are integers; the above-mean bit uses the
    cross-multiplied compare n·c > Σc (no division); the fingerprint
    is a left-fold Horner accumulation (acc·2 + bit — exact BIGINT);
    band extraction is exact integer div/mod; Hamming is
    bit_count(xor) on BIGINT in both engines (the HUGEINT trap from
    dedup_simhash's oracle avoided by construction).

    Scale: the fingerprint is one two-stage map pass (see the inline
    barrier note); the self-join shuffles on (band_idx, band_value) —
    {_PHASH_BANDS}·N rows — and the rank-window bucket cap bounds
    per-bucket candidates at C({_PHASH_BUCKET_CAP}, 2): total work is
    linear in assets even when the corpus contains mega-cliques of
    near-identical payloads (the 100× replica manufactures 360-doc
    cliques; uncapped they yield 22M pairs — the cap keeps spanning
    pairs per clique and connected components recovers full clusters,
    the dedup_minhash_near/simhash blocking discipline applied to the
    binary modality).
    """
    docs = load_table(spark, sf_dir, "documents")
    # UNROLLED, not higher-order functions: a transform lambda that
    # references the outer total aggregate re-derives it PER ELEMENT
    # (LESSONS #4 — measured 5.2 s warm for 5000 rows). The payload is
    # always exactly _PHASH_PREFIX bytes after cycling, so the loop
    # unrolls into plain substr/ascii/sum expressions. The persist
    # barrier materializes (s, total) so stage 2's bit-sum references
    # them as plain attributes: small tree, codegen'd, and the band
    # self-join's two sides read the cache instead of recomputing the
    # fingerprint pass (LESSONS #5). r15 optimization (k-means
    # lesson): the unrolled trees are assembled as SINGLE SQL
    # expression strings — the Column-algebra form cost one py4j
    # round trip per node (~400 calls, 2.2 s of pure plan-build time
    # per bench run at sf0.1); the strings parse JVM-side in one call
    # each, to the same expressions. The payload lands in its own
    # projection so `total`'s 60 terms reference the `s` ATTRIBUTE
    # (CollapseProject keeps non-cheap multiply-referenced aliases),
    # not 60 inlined copies of the repeat/substring subtree.
    pay_sql = (
        "substring(repeat(coalesce(nullif(text, ''), ' '), "
        f"cast(ceil({_PHASH_PREFIX}.0d / "
        "length(coalesce(nullif(text, ''), ' '))) as int)), "
        f"1, {_PHASH_PREFIX})"
    )
    total_sql = " + ".join(
        f"cast(ascii(substring(s, {i + 1}, 1)) as bigint)"
        for i in range(_PHASH_PREFIX)
    )
    pre = (
        docs.select("doc_id", F.expr(pay_sql).alias("s"))
        .select("doc_id", "s", F.expr(total_sql).alias("total"))
        .persist()
    )
    fp_sql = "cast(0 as bigint) + " + " + ".join(
        f"(case when {_PHASH_PREFIX} * "
        f"cast(ascii(substring(s, {i + 1}, 1)) as bigint) > total "
        f"then cast({1 << (_PHASH_PREFIX - 1 - i)} as bigint) "
        "else cast(0 as bigint) end)"
        for i in range(_PHASH_PREFIX)
    )
    fps = pre.select("doc_id", F.expr(fp_sql).alias("fp"))
    bands_all = fps.select(
        "doc_id",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(_PHASH_BANDS - 1))).alias("k"),
    ).withColumn(
        "band",
        F.expr("fp div CAST(pow(2, 15 * k) AS BIGINT)") % _PHASH_BAND_MOD,
    )
    w_cap = Window.partitionBy("k", "band").orderBy("doc_id")
    bands = (
        bands_all.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= _PHASH_BUCKET_CAP)
        .drop("rk")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.filter(ham <= _PHASH_MAX_HAM)
        .select(
            "doc_a",
            "doc_b",
            ham.cast("long").alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )
