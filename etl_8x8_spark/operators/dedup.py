"""Deduplication operators (BASELINE north star; SURVEY.md §2b
"LLM-data-pipeline extensions").

Thirteen strategies over the ``documents``/``embeddings`` tables, each
a ``queries()`` entry:

- ``dedup_exact``        — normalize + SHA-256 content hash (oracle)
- ``dedup_ngram_jaccard`` — exact n-gram Jaccard on blocked candidate
                            pairs (oracle)
- ``dedup_minhash_near`` — banded MinHash LSH (rows-only; recall
                            pytest vs exact Jaccard)
- ``dedup_simhash``      — 64-bit SimHash with Hamming-band blocking
                            (rows-only; pytest)
- ``dedup_embed_cosine`` — embedding-cosine near-dup pairs (oracle)
- ``dedup_containment``  — shingle containment (boilerplate wraps)
- ``dedup_cluster_cc``   — pair→cluster connected components
- ``dedup_binary_exact`` — binary-column exact dedup
- ``dedup_semdedup``     — SemDeDup-style centroid-cluster prune (r8)
- ``pipeline_dedup_cascade`` — staged exact→near cascade with
                            per-stage attribution (r8)
- ``dedup_url_canonical`` — canonical-URL dedup, the web-corpus stage
                            zero (r9, oracle)
- ``dedup_substring_span`` — cross-document K-token exact spans, the
                            Lee et al. 2022 family as a bucket join
                            (r9, oracle)
- (``text_line_dedup`` in operators/text.py covers the line level)

Scale posture (100 TB): every strategy is hash-partition-friendly —
exact dedup is one groupBy on the content hash; MinHash/SimHash block
candidates into O(bands × corpus) bucket joins instead of O(n²)
all-pairs; the n-gram and cosine variants run on *blocked* candidate
sets only. Nothing here shuffles raw text more than once.

The corpus is seeded with deterministic near/exact duplicates
(offset doc_ids) so each strategy has something to find at every scale
factor; the derivations are inlined in the oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8x8_spark.functions.iterative import bound_round_lineage
from etl_8x8_spark.functions.vectors import dot_sql, norm_sql, oracle_dot, oracle_norm
from etl_8x8_spark.registry import register
from etl_8x8_spark.sources.readers import load_table, widen_scan

# ---------------------------------------------------------------------------
# corpus seeding — deterministic duplicate planting
# ---------------------------------------------------------------------------

_EXACT_OFFSET = 1_000_000  # case/whitespace-variant copies
_NEAR_OFFSET = 2_000_000  # two-token-appended near copies

# Spark + DuckDB derivations of the same seeded corpus.
_SEEDED_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EXACT_OFFSET} AS doc_id,
         upper(text) || '  ' AS text
  FROM documents WHERE doc_id % 4 = 0
"""

_NEAR_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET} AS doc_id,
         text || ' trailing marker' AS text
  FROM documents WHERE doc_id % 3 = 0
"""


def seeded_exact_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ case/whitespace variants of every 4th doc."""
    variants = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _EXACT_OFFSET).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(variants)


def seeded_near_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ two-token-appended variants of every 3rd doc."""
    variants = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing marker")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(variants)


# The Spark side of every expression the text, dedup and similarity
# families share is SQL text, one form per expression: a stack of
# chained Column/lambda ops costs hundreds of py4j round trips per
# build, one F.expr string a handful (OPTIMIZATION_r15.md, "dedup
# family expression-stack stringification"). The names without the X
# (_NORM_SQL, _shingles_sql, ...) are the DuckDB oracle's forms.
# Spark-side SQL text must not contain a backslash escape: under the
# legacy spark.sql.parser.escapedStringLiterals=true a driver-supplied
# session would read '\\s+' as a literal backslash. So the whitespace
# class is Java's \s set with the real characters embedded here.
_NORM_SQLX = "lower(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ')))"
_TOKENS_SQLX = f"split({_NORM_SQLX}, ' ')"

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"


def normalized(text: str = "text") -> Column:
    """lower + trim + collapse internal whitespace of the SQL
    expression ``text`` (:data:`_NORM_SQLX` over it)."""
    return F.expr(_NORM_SQLX.replace("text", text, 1))


def tokens() -> Column:
    """The normalized ``text`` split on single spaces."""
    return F.expr(_TOKENS_SQLX)


def _shingles_sql(toks: str, n: int = 3) -> str:
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {n - 1}, 1)),"
        f" i -> array_to_string(({toks})[i:i+{n - 1}], ' ')))"
    )


def _shingles_sqlx(toks: str, n: int = 3) -> str:
    """Word n-gram shingle set (distinct).

    Built from n shifted slices folded with ``zip_with`` — NOT a
    ``transform`` over positions with ``slice(toks, i, n)`` inside the
    lambda: when ``toks`` is an expression (the usual tokens split), a
    lambda that references it re-derives the whole split per OUTPUT
    ELEMENT, turning shingling O(tokens²) in split evaluations
    (measured 2-6× slowdowns across the dedup family). Shifted slices
    reference the expression O(n) times per ROW. ``zip_with`` pads the
    shorter side with NULL and ``concat_ws`` skips NULLs, which exactly
    reproduces the end-of-array truncation of the positional form for
    short docs."""
    m = f"greatest(size({toks}) - {n - 1}, 1)"
    acc = f"slice({toks}, 1, {m})"
    for k in range(2, n + 1):
        acc = (
            f"zip_with({acc}, slice({toks}, {k}, {m}),"
            " (a, b) -> concat_ws(' ', a, b))"
        )
    return f"array_distinct({acc})"


# ---------------------------------------------------------------------------
# exact dedup — normalize + content hash
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
WITH corpus AS ({_SEEDED_SQL}),
hashed AS (
  SELECT doc_id, sha256({_NORM_SQL}) AS content_hash FROM corpus
)
SELECT content_hash,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM hashed
GROUP BY content_hash
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: normalize -> SHA-256 -> one groupBy on the
    hash, keeping the lowest doc_id per content group.

    At 100 TB this is the canonical single-shuffle dedup: the map side
    reduces each document to a 32-byte hash, the shuffle moves
    O(distinct hashes), and the text itself never moves.
    """
    corpus = seeded_exact_corpus(load_table(spark, sf_dir, "documents"))
    return (
        corpus.select("doc_id", F.sha2(normalized(), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup — blocked exact similarity (oracle-checkable)
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.7

# Content-derived blocking key: the first 32 NORMALIZED characters.
# Near-duplicates in real corpora (and the planted ones here, which
# append at the end) share their opening text, so they land in one
# block; the corpus-wide block-size distribution stays tiny (no
# template skew in this data — max block 3 at sf0.01). This is
# information a real corpus actually has, unlike a family id.
_BLOCK_KEY_SQL = f"substr({_NORM_SQL}, 1, 32)"
_BLOCK_KEY_SQLX = f"substring({_NORM_SQLX}, 1, 32)"


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH corpus AS ({_NEAR_SQL}),
sh AS (
  SELECT doc_id,
         {_BLOCK_KEY_SQL} AS block_key,
         {_shingles_sql(_TOKENS_SQL)} AS sset
  FROM corpus
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(floor((CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
             / len(list_distinct(a.sset || b.sset))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS jaccard
FROM sh a JOIN sh b
  ON a.block_key = b.block_key AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
      / len(list_distinct(a.sset || b.sset)) >= {_JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over *blocked* candidate pairs.

    Blocking key is CONTENT-DERIVED: the first 32 normalized
    characters (same family as a URL-host or length-bucket key, and
    what ``join_fuzzy_match`` does) — no reliance on id structure a
    real corpus wouldn't have. The point for 100 TB: Jaccard
    verification only ever runs on candidate pairs produced by a
    blocking join, never all-pairs.
    """
    corpus = widen_scan(
        seeded_near_corpus(load_table(spark, sf_dir, "documents"))
    )
    # persisted: BOTH self-join sides consume the shingle table, and
    # without the barrier the plan re-derives shingles per side (the
    # CollapseProject duplication trap); widened first so the shingle
    # map stage isn't bound to the narrow scan's task count.
    # PERSIST-BARRIER LIFECYCLE: the returned (lazy) plan depends on
    # this cache, so the builder cannot unpersist it; long-lived
    # drivers must spark.catalog.clearCache() between queries (bench.py
    # and tools/verify_queries.py both do).
    sh = corpus.select(
        "doc_id",
        F.expr(_BLOCK_KEY_SQLX).alias("block_key"),
        F.expr(_shingles_sqlx(_TOKENS_SQLX)).alias("sset"),
    ).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sset"), F.col("b.sset")))
    union = F.size(F.array_union(F.col("a.sset"), F.col("b.sset")))
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= _JACCARD_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.floor((jac) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# shingle containment — near-SUPERSET duplicates (boilerplate wrapping)
# ---------------------------------------------------------------------------

_CONTAIN_OFFSET = 3_000_000
_CONTAIN_THRESHOLD = 0.9

# A ~40-token boilerplate tail: long enough that the wrapped copy's
# JACCARD vs the original drops well below the 0.7 near-dup threshold
# for typical doc lengths (the union grows by ~40 shingles), while the
# CONTAINMENT of the original in the copy stays exactly 1.0 — the
# duplicate class Jaccard-based dedup structurally misses.
_BOILERPLATE = (
    "this document is provided as is without warranty of any kind "
    "either express or implied including but not limited to the implied "
    "warranties of merchantability fitness for a particular purpose or "
    "noninfringement all rights reserved unauthorized reproduction or "
    "distribution of this material is strictly prohibited"
)

_CONTAIN_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CONTAIN_OFFSET} AS doc_id,
         text || ' {_BOILERPLATE}' AS text
  FROM documents WHERE doc_id % 5 = 0
"""


def seeded_contain_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ boilerplate-suffixed copies of every 5th doc."""
    variants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _CONTAIN_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(variants)


@register(
    "dedup_containment",
    oracle=f"""
WITH corpus AS ({_CONTAIN_SQL}),
sh AS (
  SELECT doc_id,
         {_BLOCK_KEY_SQL} AS block_key,
         {_shingles_sql(_TOKENS_SQL)} AS sset
  FROM corpus
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(floor((CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
             / least(len(a.sset), len(b.sset))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS containment
FROM sh a JOIN sh b
  ON a.block_key = b.block_key AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
      / least(len(a.sset), len(b.sset)) >= {_CONTAIN_THRESHOLD}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUPERSET dedup: shingle CONTAINMENT
    |A ∩ B| / min(|A|, |B|) over blocked candidate pairs — catches a
    document wrapped in boilerplate (licence tails, navigation chrome,
    quoted-reply chains), where the smaller doc's shingles survive
    intact inside the bigger one but the union is inflated enough that
    Jaccard falls below any sane near-dup threshold. This is the
    second dedup metric real pretraining pipelines run alongside
    Jaccard (e.g. the "containment" pass in CCNet-style dedup), not a
    variant of it: the two flag provably different pair sets.

    Same scale posture as ``dedup_ngram_jaccard``: candidates come
    from a content-derived blocking join (first 32 normalized chars —
    suffix-appended wrappers keep the prefix), containment is computed
    exactly on candidates only, never all-pairs, and the shingle table
    is built once behind a persist barrier shared by both join sides.
    """
    corpus = widen_scan(
        seeded_contain_corpus(load_table(spark, sf_dir, "documents"))
    )
    # persist barrier: both self-join sides consume the shingle table
    # (lifecycle: see the persist-barrier note in dedup_ngram_jaccard)
    sh = corpus.select(
        "doc_id",
        F.expr(_BLOCK_KEY_SQLX).alias("block_key"),
        F.expr(_shingles_sqlx(_TOKENS_SQLX)).alias("sset"),
    ).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sset"), F.col("b.sset")))
    denom = F.least(F.size(F.col("a.sset")), F.size(F.col("b.sset")))
    cont = inter.cast("double") / denom
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(cont >= _CONTAIN_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.floor((cont) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash LSH near-dup — the scale path (rows-only + recall pytest)
# ---------------------------------------------------------------------------

_MINHASH_FUNCS = 32
_BANDS = 8
_ROWS_PER_BAND = _MINHASH_FUNCS // _BANDS


# Engine-portable hash family (round 5): every hash below is plain
# integer arithmetic both Spark and DuckDB evaluate identically, so
# the whole LSH family is value-hash oracle-checkable — the r1-r4
# builds used xxhash64, which has no DuckDB twin and forced the
# weaker rows-only driver check. Components:
#   token hash   t = fold chars: (acc·131 + ascii(c)) mod P
#   shingle hash a = fold the n token hashes: (acc·1000003 + t) mod P
#   second hash  b = (a · 2654435761) mod 2^32   (Knuth multiplicative)
#   minhash_i    h_i = (a + i·b) mod P
# P = 2^31-1 keeps every intermediate < 2^63 (a·2654435761 < 2^63), so
# the arithmetic never overflows — a throw under ANSI mode and DuckDB
# alike. The mod-P wraparound in h_i is essential: without it the
# shingle with the smallest (a, b) wins the min for EVERY i,
# signatures collapse, and the band buckets go quadratic.
_PH_P = (1 << 31) - 1
_PH_CHAR_MUL = 131
_PH_TOK_MUL = 1_000_003
_PH_B_MUL = 2_654_435_761
_PH_B_MOD = 1 << 32


def _token_hashes_sqlx(toks: str) -> str:
    """Portable per-token polynomial hash (char left-fold mod P).

    One fold per token — shingle hashes then combine these O(1) per
    shingle instead of re-hashing ~3x the characters per shingle.
    Pass a MATERIALIZED column to consumers that slice it (each slice
    reference re-evaluates the expression)."""
    return (
        f"transform({toks}, t -> aggregate("
        "transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT)),"
        " CAST(0 AS BIGINT),"
        f" (acc, v) -> (acc * {_PH_CHAR_MUL} + v) % {_PH_P}))"
    )


def _token_hashes_sql(toks: str) -> str:
    """DuckDB twin of :func:`_token_hashes_sqlx` (string_split(t, '') splits
    into characters in DuckDB, matching Spark's split(t, ''))."""
    return (
        f"list_transform({toks}, t -> list_reduce("
        f"list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, v) -> (acc * {_PH_CHAR_MUL} + v) % {_PH_P}))"
    )


def _shingle_hashes_sqlx(th: str, n: int = 3) -> str:
    """Order-sensitive hash of every word n-gram, combined from the
    per-token hashes with the same shifted-slice zip as
    :func:`_shingles_sqlx` (short docs truncate identically: a NULL
    slice element leaves the accumulator unchanged, mirroring
    concat_ws skipping NULLs)."""
    m = f"greatest(size({th}) - {n - 1}, 1)"
    acc = f"slice({th}, 1, {m})"
    for k in range(2, n + 1):
        acc = (
            f"zip_with({acc}, slice({th}, {k}, {m}), (a, b) ->"
            f" CASE WHEN b IS NULL THEN a"
            f" ELSE (a * {_PH_TOK_MUL} + b) % {_PH_P} END)"
        )
    return acc


def _shingle_hashes_sql(th: str, n: int = 3) -> str:
    """DuckDB twin of :func:`_shingle_hashes_sqlx` — out-of-range list
    indexing yields NULL, matching the zip_with padding."""
    acc = f"({th})[i]"
    for k in range(2, n + 1):
        acc = (
            f"CASE WHEN ({th})[i+{k - 1}] IS NULL THEN {acc} "
            f"ELSE (({acc}) * {_PH_TOK_MUL} + ({th})[i+{k - 1}]) % {_PH_P} END"
        )
    return (
        f"list_transform(generate_series(1, greatest(len({th}) - {n - 1}, 1)), "
        f"i -> {acc})"
    )


def _minhash_signature_sqlx(sh: str) -> str:
    """32-function MinHash signature as a SINGLE left fold over the
    shingle hashes: acc_i = min(acc_i, (a + i·b) mod P) with
    b = Knuth-multiplicative(a).

    Written as one ``aggregate`` (not 32 ``array_min`` passes) so the
    ``sh`` expression is referenced exactly once — Catalyst's
    CollapseProject duplicates multiply-referenced projection
    expressions, which would otherwise re-hash every shingle once per
    function. min over the multiset == min over the set, so the input
    needs no array_distinct."""
    init = f"array_repeat(CAST({1 << 62} AS BIGINT), {_MINHASH_FUNCS})"
    idx = f"sequence(0, {_MINHASH_FUNCS - 1})"
    pairs = f"transform({sh}, a -> array(a, (a * {_PH_B_MUL}) % {_PH_B_MOD}))"
    return (
        f"aggregate({pairs}, {init}, (acc, p) -> zip_with(acc, {idx},"
        f" (m, i) -> least(m,"
        f" (element_at(p, 1) + i * element_at(p, 2)) % {_PH_P})))"
    )


def _minhash_signature_sql(sh: str) -> str:
    """DuckDB twin of :func:`_minhash_signature_sqlx`. The accumulator and
    the (a, b) pairs are both BIGINT lists so list_reduce's
    init-via-prepend trick type-checks."""
    init = (
        f"list_transform(generate_series(0, {_MINHASH_FUNCS - 1}), "
        f"i -> CAST({1 << 62} AS BIGINT))"
    )
    return (
        f"list_reduce(list_prepend({init}, "
        f"list_transform({sh}, a -> [a, (a * {_PH_B_MUL}) % {_PH_B_MOD}])), "
        f"(acc, p) -> list_transform(generate_series(0, {_MINHASH_FUNCS - 1}), "
        f"i -> least(acc[i+1], (p[1] + i * p[2]) % {_PH_P})))"
    )


def _band_hashes_sqlx(sig: str) -> str:
    """Band the signature: a polynomial fold over each r-row slice
    (slices addressed positionally so ``sig`` should be a materialized
    column, not a re-evaluated expression). Signature entries are
    < P, so the fold never overflows."""
    bands = []
    for b in range(_BANDS):
        h = "CAST(0 AS BIGINT)"
        for r in range(_ROWS_PER_BAND):
            h = (
                f"(({h}) * {_PH_TOK_MUL}"
                f" + element_at({sig}, {b * _ROWS_PER_BAND + r + 1}))"
                f" % {_PH_P}"
            )
        bands.append(h)
    return f"array({', '.join(bands)})"


def _band_hash_sql(sig: str, band_idx: str) -> str:
    """DuckDB twin of one band's hash, with the band index a SQL
    expression (the oracle unnests band indices to rows)."""
    h = "CAST(0 AS BIGINT)"
    for r in range(_ROWS_PER_BAND):
        h = (
            f"(({h}) * {_PH_TOK_MUL} "
            f"+ ({sig})[({band_idx}) * {_ROWS_PER_BAND} + {r + 1}]) % {_PH_P}"
        )
    return h


_MINHASH_ORACLE = f"""
WITH corpus AS ({_NEAR_SQL}),
tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM corpus
),
th AS (
  SELECT doc_id, {_shingles_sql("toks")} AS sset,
         {_token_hashes_sql("toks")} AS th
  FROM tok
),
sig AS (
  SELECT doc_id, sset,
         {_minhash_signature_sql(_shingle_hashes_sql("th"))} AS sig
  FROM th
),
buckets AS (
  SELECT doc_id, j AS band_idx, {_band_hash_sql("sig", "j")} AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {_BANDS - 1})) AS j) g
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
paired AS (
  SELECT c.doc_a, c.doc_b, sa.sset AS sa, sb.sset AS sb
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(floor(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
             / len(list_distinct(sa || sb)) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS jaccard
FROM paired
WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
      / len(list_distinct(sa || sb)) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_minhash_near", oracle=_MINHASH_ORACLE)
def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via banded MinHash LSH: shingle -> 32-hash signature ->
    8 bands × 4 rows -> bucket join -> exact-Jaccard verification of
    candidates only.

    This is the 100 TB path: candidate generation is a groupBy/join on
    (band, band_hash) — O(bands × corpus) shuffle, never O(n²). The
    exact-Jaccard check then makes the output deterministic (and
    precision 1.0), so the LSH parameters only affect recall. The
    whole hash family is engine-portable integer arithmetic (see the
    block comment above), so the driver value-hash-checks this against
    a full DuckDB twin; tests/test_llm_ops.py additionally asserts
    recall against the exact n-gram Jaccard result.
    """
    corpus = seeded_near_corpus(load_table(spark, sf_dir, "documents"))
    # (doc_id, shingle set, signature) computed in ONE pass and
    # persisted: the signature table is consumed by both sides of the
    # bucket self-join, the band expansion (8 positional references),
    # and the shingle re-attach — without the persist barrier,
    # CollapseProject + plan duplication re-derive it per consumer.
    # (At warehouse scale this persist is a materialized signature
    # table; 8-byte×32 signatures are ~0.3% of corpus bytes.)
    # The token hashes are materialized as their own column first: the
    # three shifted-slice references in the shingle hash would each
    # re-run the per-char fold if handed the raw expression.
    sig_df = corpus.select(
        "doc_id",
        F.expr(_shingles_sqlx(_TOKENS_SQLX)).alias("sset"),
        F.expr(_token_hashes_sqlx(_TOKENS_SQLX)).alias("th"),
    ).select(
        "doc_id",
        "sset",
        F.expr(_minhash_signature_sqlx(_shingle_hashes_sqlx("th"))).alias(
            "sig"
        ),
    ).persist()  # lifecycle: see the persist-barrier note in dedup_ngram_jaccard
    sh = sig_df.select("doc_id", "sset")
    # Bucket rows carry ONLY (doc_id, band): the shingle arrays must
    # not ride through the bucket shuffle and pair-dedup exchange.
    buckets = sig_df.select(
        "doc_id",
        F.posexplode(F.expr(_band_hashes_sqlx("sig"))).alias("band_idx", "band_hash"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # shingle sets re-attached to the (small) candidate set only
    paired = candidates.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("sa")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("sb")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    jac = inter.cast("double") / union
    return (
        paired.filter(jac >= _JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            # floor-quantize (not round): tie-stable across engines
            (F.floor(jac * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash near-dup (portable-hash, oracle-checkable)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64
_HAM_THRESHOLD = 6  # max Hamming distance for a near-dup verdict
_SIM_BANDS = 4  # block on 16-bit chunks: d<=6 pairs share >=1 of 4 exact

# Four Knuth-style odd multipliers (the xxhash/Murmur constants —
# public-domain mixing constants, used here as plain integer literals).
# Each shingle's 64 fingerprint bits are the TOP 16 bits of the four
# 32-bit products (a·M_k mod 2^32): multiplicative hashing's high bits
# are the well-mixed ones. a < 2^31 and M_k < 2^32 keep products
# < 2^63 — no overflow under ANSI mode or DuckDB.
_SIM_MULTS = [2_654_435_761, 2_246_822_519, 3_266_489_917, 668_265_263]


def simhash_counters(sh: Column) -> Column:
    """64 SimHash bit counters folded over the DISTINCT shingle
    hashes: bit j of a shingle is bit (16 + j mod 16) of
    (a · M_{j div 16}) mod 2^32, contributing ±1. The four products
    are materialized once per shingle via an inner transform, not
    recomputed per bit."""
    dh = F.array_distinct(sh)
    gs = F.transform(
        dh, lambda a: F.array(*[(a * m) % _PH_B_MOD for m in _SIM_MULTS])
    )
    return F.aggregate(
        gs,
        F.array_repeat(F.lit(0), _SIMHASH_BITS),
        lambda acc, g: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(
                            F.element_at(g, j // 16 + 1), 16 + (j % 16)
                        ).bitwiseAND(F.lit(1))
                        == 1,
                        1,
                    ).otherwise(-1)
                    for j in range(_SIMHASH_BITS)
                ]
            ),
            lambda a, v: a + v,
        ),
    )


def simhash_from_counters(counters: Column) -> Column:
    """Sign of each counter -> fingerprint bit -> one 64-bit long.
    Bits are disjoint powers of two, so summation == bitwise OR (the
    top bit is the long's sign bit, hence the two's-complement
    literal)."""
    powers = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(_SIMHASH_BITS)
        ]
    )
    return F.aggregate(
        F.zip_with(
            counters,
            powers,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _simhash_powers_sql() -> str:
    """SQL CASE mapping bit index j to its power-of-two (bit 63 is the
    BIGINT sign bit, hence the two's-complement literal)."""
    return (
        f"CASE WHEN j = 63 THEN CAST({-(1 << 63)} AS BIGINT) "
        f"ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END"
    )


_SIMHASH_ORACLE = f"""
WITH corpus AS ({_NEAR_SQL}),
tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM corpus
),
th AS (
  SELECT doc_id, {_token_hashes_sql("toks")} AS th FROM tok
),
sh AS (
  SELECT doc_id,
         list_distinct({_shingle_hashes_sql("th")}) AS dh
  FROM th
),
ex AS (
  SELECT doc_id, unnest(dh) AS a FROM sh
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN ((a * ([{", ".join(str(m) for m in _SIM_MULTS)}])[(j // 16) + 1])
                        % {_PH_B_MOD} >> (16 + (j % 16))) & 1 = 1
                  THEN 1 ELSE -1 END) AS c
  FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) g
  GROUP BY doc_id, j
),
fp AS (
  -- SUM(BIGINT) is HUGEINT in DuckDB; without the cast the xor /
  -- bit_count below run 128-bit and negative fingerprints count 64
  -- phantom sign bits.
  SELECT doc_id,
         CAST(SUM(CASE WHEN c > 0 THEN {_simhash_powers_sql()}
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
  FROM bits GROUP BY doc_id
),
ch AS (
  SELECT doc_id, fp, j AS chunk_idx, (fp >> (j * 16)) & 65535 AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, {_SIM_BANDS - 1})) AS j) g
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM ch a JOIN ch b
  ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {_HAM_THRESHOLD}
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints, blocked by 16-bit chunks
    (pigeonhole: Hamming distance ≤ 6 over 4 chunks guarantees ≥ 1
    exact chunk match), verified by exact Hamming distance.

    Same scale shape as MinHash LSH: candidate generation is an
    equi-join on (chunk_idx, chunk_value); fingerprints are 8 bytes per
    doc, so the candidate join shuffles fingerprints, not text. The
    portable hash family (see the minhash block comment) makes the
    fingerprints — and therefore the output — value-hash-checkable
    against the DuckDB twin.
    """
    corpus = seeded_near_corpus(load_table(spark, sf_dir, "documents"))
    # features = word-3-gram shingles: unigram features would make all
    # docs in a small shared vocabulary look alike; shingles carry
    # sequence information, so unrelated docs land ~32 bits apart.
    # The fingerprint table (8 bytes/doc) is persisted: it feeds the 4
    # chunk derivations and both sides of the candidate join, and
    # CollapseProject would otherwise re-derive the whole fold per
    # reference.
    fp = (
        corpus.select("doc_id", tokens().alias("toks"))
        .select("doc_id", F.expr(_token_hashes_sqlx("toks")).alias("th"))
        .select(
            "doc_id",
            simhash_counters(F.expr(_shingle_hashes_sqlx("th"))).alias("counters"),
        )
        .select("doc_id", simhash_from_counters(F.col("counters")).alias("fp"))
        .persist()  # lifecycle: see persist-barrier note in dedup_ngram_jaccard
    )
    chunk_size = _SIMHASH_BITS // _SIM_BANDS
    chunks = fp.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), b * chunk_size).bitwiseAND(
                        F.lit((1 << chunk_size) - 1)
                    )
                    for b in range(_SIM_BANDS)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= _HAM_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (oracle-checkable)
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.9


@register(
    "dedup_embed_cosine",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_NEAR_OFFSET} AS vec_id, embedding
  FROM embeddings WHERE vec_id % 5 = 0
),
normed AS (
  SELECT vec_id, embedding,
         vec_id % {_NEAR_OFFSET} AS block_key,
         {oracle_norm("embedding")} AS nrm
  FROM base
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(floor(({oracle_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS cos_sim
FROM normed a JOIN normed b
  ON a.block_key = b.block_key AND a.vec_id < b.vec_id
WHERE {oracle_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
      >= {_COS_THRESHOLD}
""",
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over blocked candidate pairs (planted
    exact-copy vectors; blocking key = the planted family, standing in
    for an ANN/LSH bucket at scale). Norms computed once per vector,
    the pair join moves only (id, embedding, norm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    variants = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _NEAR_OFFSET).alias("vec_id"), "embedding"
    )
    base = emb.select("vec_id", "embedding").unionByName(variants)
    normed = base.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % _NEAR_OFFSET).alias("block_key"),
        F.expr(norm_sql("embedding")).alias("nrm"),
    )
    a = normed.alias("a")
    b = normed.alias("b")
    sim = F.expr(f"{dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)")
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(sim >= _COS_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.floor((sim) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Connected components over the near-dup pair graph: pairs -> clusters.
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 15


@register(
    "dedup_cluster_cc",
    oracle=f"""
WITH RECURSIVE corpus AS ({_NEAR_SQL}),
sh AS (
  SELECT doc_id,
         {_BLOCK_KEY_SQL} AS block_key,
         {_shingles_sql(_TOKENS_SQL)} AS sset
  FROM corpus
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b
    ON a.block_key = b.block_key AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
        / len(list_distinct(a.sset || b.sset)) >= {_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id,
       MIN(dst) AS cluster_rep,
       CAST(COUNT(*) OVER (PARTITION BY MIN(dst)) AS BIGINT) AS cluster_size
FROM reach
GROUP BY src
""",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup CLUSTERS: connected components over the
    n-gram-Jaccard pair graph, every document labeled with its
    component representative (min doc_id) and the component size —
    the step that turns pairwise similarity into actual keep/drop
    decisions (keep ``doc_id == cluster_rep``, drop the rest), which
    is what a training-data dedup pass ships.

    Implemented as distributed min-label propagation over ONLY the
    pair graph's vertices: round 0 (label = min of self and
    neighbors) is fused into initialization, convergence is detected
    by an edge-violation count (min-label fixpoint ⇔ no edge joins
    two different labels — a narrow, shuffle-free job when labels
    broadcast), and each further round is one (edges ⋈ labels) join +
    min-aggregate, looped from the driver — the iterative-algorithm
    shape Spark expresses as a driver loop over declarative steps,
    like GraphX/Pregel does under the hood. Near-dup components are
    tiny and dense (dup families, not a web graph), so the fused
    round 0 usually converges outright and the loop runs zero
    propagate rounds; labels are persisted each round and
    the loop is capped at {_CC_MAX_ITERS} as a runaway guard. The
    DuckDB oracle computes the same components from first principles
    (recursive-CTE transitive closure + MIN) — hash-verifying an
    ITERATIVE distributed algorithm against a declarative spec.

    Scale: cost per round is |edges| shuffled on one key; total
    rounds bound by diameter. Loop parallelism and the
    broadcast-vs-shuffle choice adapt to the MEASURED pair count
    (see inline notes). For skew (one giant component), the
    alternating small-star/large-star variant keeps per-key fanout
    bounded — same loop skeleton.
    """
    corpus = seeded_near_corpus(load_table(spark, sf_dir, "documents"))
    # Pair generation runs EXACTLY ONCE, into an eager checkpoint; the
    # symmetrized edge view is a lazy narrow union over it (two
    # projections of cached blocks — no second materialization, and
    # loop plans never drag the shingle lineage along).
    # r15: lazy persist instead of the eager localCheckpoint (the
    # pagerank A/B, same rationale): the count below still
    # materializes it, but identical re-built plans hit the cache
    # across bench runs instead of re-running the shingle pipeline.
    ck_pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist()
    )
    # The checkpoint is already materialized, so this count is nearly
    # free — and it buys two runtime-adaptive decisions a static plan
    # can't make (checkpointed RDDs have no Catalyst size stats, so
    # AQE can't make them for us):
    #   p     — loop-shuffle parallelism sized to |edges|, not to the
    #           session default (32 tasks for 4k edges is pure
    #           scheduling overhead; at 100 TB p grows linearly);
    #   bc    — broadcast the label map only when the vertex set is
    #           provably small; a dirty corpus with a huge pair graph
    #           keeps shuffle joins and never OOMs the driver.
    n_pairs = ck_pairs.count()
    sess_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = max(4, min(sess_p, (2 * n_pairs) // 100_000 + 4))
    bc = F.broadcast if n_pairs < 1_000_000 else (lambda d: d)
    edges = ck_pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(
        ck_pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    # Labels live ONLY on the pair graph's vertices — docs with no
    # near-dup edge keep label == doc_id and never enter the loop, so
    # each round costs O(|edges|), not O(|corpus|); the corpus is
    # touched exactly once, in the final left join. Round 0 is fused
    # into initialization: label(v) = min(v, min(neighbors)), one
    # shuffle. Each round is lazily persisted (MEMORY_AND_DISK spills
    # rather than evicting, so round k never recomputes the chain);
    # the common case converges after the fused round 0 anyway.
    labels = (
        edges.repartition(p, "a")
        .groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select(
            F.col("a").alias("doc_id"), F.least("a", "mn").alias("label")
        )
        .persist()
    )
    for _rnd in range(1, _CC_MAX_ITERS + 1):
        # Converged iff no edge joins two labels: min-label fixpoint
        # means label(a) == label(b) on every edge. With broadcast
        # labels this check is fully narrow (no shuffle) — and in the
        # common case (dup families of diameter 1-2) it short-circuits
        # the loop after the fused round 0 with zero propagate rounds.
        la = labels.select(
            F.col("doc_id").alias("a"), F.col("label").alias("la")
        )
        lb = labels.select(
            F.col("doc_id").alias("b"), F.col("label").alias("lb")
        )
        violations = (
            edges.join(bc(la), "a")
            .join(bc(lb), "b")
            .filter(F.col("la") != F.col("lb"))
            .count()
        )
        if violations == 0:
            break
        prop = edges.join(
            bc(labels), edges.b == labels.doc_id, "inner"
        ).select(F.col("a").alias("doc_id"), "label")
        # r16: bound_round_lineage = the r15 lazy persist plus the
        # checkpoint-every-N escape hatch (functions/iterative.py)
        labels = bound_round_lineage(
            labels.unionByName(prop)
            .repartition(p, "doc_id")
            .groupBy("doc_id")
            .agg(F.min("label").alias("label")),
            _rnd,
        )
    full = (
        corpus.select("doc_id")
        .join(bc(labels), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
        )
    )
    w = Window.partitionBy("label")
    return full.select(
        "doc_id",
        F.col("label").alias("cluster_rep"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
    )


@register(
    "dedup_binary_exact",
    oracle=f"""
WITH corpus AS ({_SEEDED_SQL}),
p AS (
  SELECT doc_id, substr({_NORM_SQL}, 1, 32) AS prefix FROM corpus
)
SELECT sha256(prefix) AS payload_sha256,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keep_doc_id
FROM p
GROUP BY sha256(prefix)
HAVING COUNT(*) > 1
""",
)
def dedup_binary_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BINARY dedup — the multimodal-asset twin of
    ``dedup_exact``: content-hash (SHA-256) the opaque payload bytes,
    group by digest, keep the minimum doc_id per group; only groups
    with actual copies are emitted. Payloads are the same synthesized
    binary column the multimodal passes use (normalized-text prefix
    bytes, so the seeded exact-duplicate corpus produces real digest
    collisions).

    Scale: this is the first pass of any image/audio dedup — a pure
    map (hash) + one groupBy shuffle on the 32-byte digest, no
    content comparison; perceptual (near-dup) hashing layers on the
    same dataflow with pHash in place of SHA-256.
    """
    corpus = seeded_exact_corpus(load_table(spark, sf_dir, "documents"))
    payloads = corpus.select(
        "doc_id",
        F.encode(F.substring(normalized(), 1, 32), "utf-8").alias("payload"),
    )
    return (
        payloads.groupBy(F.sha2(F.col("payload"), 256).alias("payload_sha256"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "pipeline_training_data",
    oracle=f"""
WITH normed AS (
  SELECT doc_id, lang, {_NORM_SQL} AS norm, {_TOKENS_SQL} AS toks
  FROM documents
),
survivors AS (  -- exact dedup: min doc_id per normalized text
  SELECT MIN(doc_id) AS doc_id, norm
  FROM normed GROUP BY norm
),
gated AS (      -- quality gate on the surviving docs
  SELECT s.doc_id, n.lang,
         CAST(len(n.toks) AS BIGINT) AS n_tokens,
         CAST(floor((CAST(len(list_distinct(n.toks)) AS DOUBLE) / len(n.toks)) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS ttr
  FROM survivors s JOIN normed n ON n.doc_id = s.doc_id
  WHERE len(n.toks) >= 10
    AND CAST(len(list_distinct(n.toks)) AS DOUBLE) / len(n.toks) >= 0.3
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(floor((CAST(SUM(CAST(ttr AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS avg_ttr
FROM gated
GROUP BY lang
""",
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline as ONE query — normalize →
    exact-dedup (keep lowest doc_id per normalized text) → quality
    gate (≥10 tokens, type-token ratio ≥0.3) → per-language corpus
    stats (doc count, total tokens, mean TTR). Each stage is an
    operator that also ships standalone (``dedup_exact``,
    ``text_analysis_stats``); this key proves they COMPOSE — the
    selling point of declarative pipelines: Catalyst fuses the whole
    thing into two shuffles (dedup window, final stats groupBy), and
    every intermediate stays columnar.

    At 100 TB this one-query shape is the daily corpus build: no
    materialization between stages unless a stage is reused elsewhere
    (then persist/write — see dedup_minhash_near's signature table).
    """
    docs = load_table(spark, sf_dir, "documents")
    normed = docs.select(
        "doc_id", "lang", normalized().alias("norm"), tokens().alias("toks")
    )
    # keep-min-doc_id per norm as ONE window shuffle, not
    # groupBy(min) + join-back: the join form shuffles twice (norm,
    # then doc_id) and recomputes the scan+normalize subtree on both
    # sides (different exchange keys, so no reuse). row_number over
    # tiny per-norm groups is strictly cheaper at any scale.
    wdedup = Window.partitionBy("norm").orderBy("doc_id")
    n = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n
    gated = (
        normed.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .drop("rn", "norm")
        .withColumn("n_tokens", n.cast("long"))
        .withColumn("ttr", (F.floor((ttr) * 1e6 + 0.5).cast("long") / F.lit(1e6)))
        .filter((n >= 10) & (ttr >= 0.3))
    )
    from etl_8x8_spark.functions.parity import DEC

    return gated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.floor((F.sum(F.col("ttr").cast(DEC)).cast("double") / F.count("*")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("avg_ttr"),
    )


# ---------------------------------------------------------------------------
# semantic dedup — SemDeDup-style cluster + centroid-similarity pruning
# ---------------------------------------------------------------------------

# K fixture centroids (the K smallest vec_ids). Production SemDeDup
# takes k-means centroids (ml_kmeans_converged produces exactly that
# relation) with K ∝ corpus_size/1e5 so per-cluster membership stays
# ~constant; fixed seed ids keep THIS op free of iterative state so the
# whole pipeline is one deterministic plan with a batch-SQL oracle.
_SEM_K = 8
# Two cluster neighbors whose centroid similarities differ by less
# than EPS are declared semantic duplicates (the SemDeDup scale trick:
# sort members by similarity to the centroid and compare ADJACENT
# values only — O(n log n) per cluster, never pairwise O(n²)).
_SEM_EPS = 0.002

_SEMDEDUP_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec, {oracle_norm("embedding")} AS cnrm
  FROM embeddings WHERE vec_id < {_SEM_K}
),
base AS (
  SELECT vec_id, embedding, {oracle_norm("embedding")} AS nrm FROM embeddings
),
sims AS (
  SELECT b.vec_id, c.cid,
         {oracle_dot("b.embedding", "c.cvec")} / (b.nrm * c.cnrm) AS sim
  FROM base b CROSS JOIN cent c
),
best AS (
  SELECT vec_id, cid, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cid ASC) AS rn
  FROM sims
),
assigned AS (SELECT vec_id, cid AS cluster_id, sim FROM best WHERE rn = 1),
gapped AS (
  SELECT vec_id, cluster_id, sim,
         lag(sim) OVER (PARTITION BY cluster_id
                        ORDER BY sim DESC, vec_id ASC) AS prev_sim
  FROM assigned
)
SELECT vec_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(floor(sim * 1e6 + 0.5) AS BIGINT) AS sim_micro,
       (prev_sim IS NOT NULL AND prev_sim - sim < {_SEM_EPS}) AS is_pruned
FROM gapped
ORDER BY vec_id
"""


@register("dedup_semdedup", oracle=_SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding table:
    assign every vector to its nearest (cosine) centroid, then within
    each cluster flag near-duplicates by the ADJACENT-similarity gap —
    members are sorted by similarity to their centroid and a member
    whose similarity is within EPS of its predecessor is pruned.

    This is the published SemDeDup scale shape: clustering makes the
    candidate structure local, and the sorted-adjacency comparison
    replaces within-cluster pairwise O(n²) cosine with one ordered
    window — O(n log n) per cluster, expressible entirely in
    DataFrame ops (no UDF). Centroids here are the K smallest vec_ids
    (deterministic fixture seeds; production drops in
    ml_kmeans_converged's centroids with K scaled ∝ N so per-cluster
    size — and the per-cluster window — stays bounded).

    Determinism: cosine uses the left-fold dot/norm contract
    (functions/vectors.py — bit-identical in both engines); argmax
    ties break on centroid id, gap ordering ties on vec_id. Output
    flags (never drops) so the oracle checks survivors AND prunes.

    Scale: centroids broadcast (K rows); assignment is map-side over
    the K-expanded scan; one shuffle per window — vec_id (K:1
    reduce), then cluster_id (bounded per-cluster membership by K ∝ N
    choice). Nothing pairwise anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") < _SEM_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cvec"),
            F.expr(norm_sql("embedding")).alias("cnrm"),
        )
    )
    base = emb.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    sims = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.expr(f"{dot_sql('embedding', 'cvec')} / (nrm * cnrm)").alias("sim"),
    )
    # argmax via max(struct(sim, -cid)): struct ordering compares sim
    # first, then -cid — highest sim wins, ties to the SMALLEST cid —
    # and the groupBy gets map-side partial aggregation, so the
    # K-expanded rows collapse before the exchange (a row_number
    # window would shuffle all K copies per vector first).
    assigned = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))
            ).alias("m")
        )
        .select(
            "vec_id",
            (-F.col("m.ncid")).alias("cluster_id"),
            F.col("m.sim").alias("sim"),
        )
    )
    w_gap = Window.partitionBy("cluster_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        assigned.withColumn("prev_sim", F.lag("sim").over(w_gap))
        .select(
            "vec_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.floor(F.col("sim") * 1e6 + 0.5).cast("long").alias("sim_micro"),
            (
                F.col("prev_sim").isNotNull()
                & (F.col("prev_sim") - F.col("sim") < _SEM_EPS)
            ).alias("is_pruned"),
        )
    )


# ---------------------------------------------------------------------------
# dedup cascade — exact → near, staged, as ONE plan
# ---------------------------------------------------------------------------

# The production dedup CASCADE: cheap exact hashing first (kills the
# bulk), then blocked n-gram-Jaccard near-dup over the survivors only
# — each stage shrinking the next stage's input. Both seeded variant
# populations are planted so both stages provably fire at every SF.
_CASCADE_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EXACT_OFFSET} AS doc_id,
         upper(text) || '  ' AS text
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET} AS doc_id,
         text || ' trailing marker' AS text
  FROM documents WHERE doc_id % 3 = 0
"""

_CASCADE_ORACLE = f"""
WITH corpus AS ({_CASCADE_SQL}),
hashed AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY {_NORM_SQL}
                            ORDER BY doc_id) AS rn
  FROM corpus
),
survivors AS (SELECT doc_id, text FROM hashed WHERE rn = 1),
sh AS (
  SELECT doc_id,
         {_BLOCK_KEY_SQL} AS block_key,
         {_shingles_sql(_TOKENS_SQL)} AS sset
  FROM survivors
),
near_elim AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b
    ON a.block_key = b.block_key AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
        / len(list_distinct(a.sset || b.sset)) >= {_JACCARD_THRESHOLD}
)
SELECT h.doc_id,
       CASE WHEN h.rn > 1 THEN 'exact'
            WHEN n.doc_id IS NOT NULL THEN 'near'
            ELSE 'kept' END AS stage
FROM hashed h LEFT JOIN near_elim n ON n.doc_id = h.doc_id
ORDER BY h.doc_id
"""


@register("pipeline_dedup_cascade", oracle=_CASCADE_ORACLE)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE as one composed Catalyst plan:
    stage 1 exact (normalize → SHA-256 → keep-min-id per content
    group), stage 2 blocked n-gram-Jaccard near-dup over stage-1
    SURVIVORS only. Every input doc is labeled with the stage that
    eliminated it ('exact' / 'near') or 'kept' — the per-stage
    attribution a corpus pipeline reports.

    Near-elimination is single-pass: a survivor is 'near' if ANY
    lower-id stage-1 survivor in its block clears the Jaccard
    threshold (no transitive closure — that is dedup_cluster_cc's
    job). Both engines implement the same rule.

    Scale: the cascade ORDER is the point — the exact stage moves
    only 32-byte hashes and typically kills most duplicate mass, so
    the quadratic-ish blocked near stage runs on a reduced corpus.
    Stage 1 is one hash shuffle; stage 2 reuses the blocked-join
    shape of dedup_ngram_jaccard (bounded block sizes, audited linear
    in r3); the final labeling is one broadcast-sized left join of
    eliminated ids.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = seeded_exact_corpus(docs).unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" trailing marker")).alias("text"),
        )
    )
    w = Window.partitionBy(F.sha2(normalized(), 256)).orderBy("doc_id")
    hashed = widen_scan(corpus).withColumn(
        "rn", F.row_number().over(w)
    )
    # persisted for the same CollapseProject reason as
    # dedup_ngram_jaccard: both self-join sides consume the shingle
    # table (lifecycle note there; bench/verify clearCache between
    # queries).
    sh = (
        hashed.filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.expr(_BLOCK_KEY_SQLX).alias("block_key"),
            F.expr(_shingles_sqlx(_TOKENS_SQLX)).alias("sset"),
        )
        .persist()
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(
        F.array_intersect(F.col("a.sset"), F.col("b.sset"))
    ).cast("double") / F.size(F.array_union(F.col("a.sset"), F.col("b.sset")))
    near = (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= _JACCARD_THRESHOLD)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("near_hit", F.lit(True))
    )
    return (
        hashed.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("rn") > 1, F.lit("exact"))
            .when(F.col("near_hit"), F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# canonical-URL dedup — the FIRST stage of every web-corpus pipeline (r9)
# ---------------------------------------------------------------------------

# The documents table has no URL column, so (same pattern as the seeded
# text corpora above) each doc gets a DETERMINISTIC URL derived from
# (doc_id, source): ~5 docs share a page id, and doc_id % 5 picks one of
# five surface variants of the same logical URL — trailing slash,
# upper-cased scheme+host, tracking params + fragment, unsorted query
# keys, sorted keys + a tracking param. Canonicalization must collapse
# variants 0-2 onto the bare page URL and variants 3-4 onto the
# ?a=1&b=2 form.
_TRACKING_RE = r"^(utm_[a-z]+|fbclid|gclid|ref)="

# host derives from the PAGE id (doc `source` is per-doc, so it cannot
# be shared across a page's variants)
_URL_CORPUS_SQL = """
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'https://www.site' || CAST((doc_id // 5) % 20 AS VARCHAR)
                       || '.example.com/page/'
                       || CAST(doc_id // 5 AS VARCHAR) || '/'
           WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST((doc_id // 5) % 20 AS VARCHAR)
                       || '.EXAMPLE.COM/page/'
                       || CAST(doc_id // 5 AS VARCHAR)
           WHEN 2 THEN 'https://www.site' || CAST((doc_id // 5) % 20 AS VARCHAR)
                       || '.example.com/page/'
                       || CAST(doc_id // 5 AS VARCHAR)
                       || '?utm_source=feed&utm_campaign=promo#section'
           WHEN 3 THEN 'https://www.site' || CAST((doc_id // 5) % 20 AS VARCHAR)
                       || '.example.com/page/'
                       || CAST(doc_id // 5 AS VARCHAR) || '?b=2&a=1'
           ELSE 'https://www.site' || CAST((doc_id // 5) % 20 AS VARCHAR)
                       || '.example.com/page/'
                       || CAST(doc_id // 5 AS VARCHAR)
                       || '?a=1&utm_medium=email&b=2'
         END AS url
  FROM documents
"""


def _seeded_url_corpus(docs: DataFrame) -> DataFrame:
    page = F.floor(F.col("doc_id") / 5).cast("long")
    site = (page % 20).cast("string")
    page = page.cast("string")
    base = F.concat(
        F.lit("https://www.site"),
        site,
        F.lit(".example.com/page/"),
        page,
    )
    url = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(base, F.lit("/")))
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("HTTPS://WWW.SITE"),
                site,
                F.lit(".EXAMPLE.COM/page/"),
                page,
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(base, F.lit("?utm_source=feed&utm_campaign=promo#section")),
        )
        .when(F.col("doc_id") % 5 == 3, F.concat(base, F.lit("?b=2&a=1")))
        .otherwise(F.concat(base, F.lit("?a=1&utm_medium=email&b=2")))
    )
    return docs.select("doc_id", url.alias("url"))


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH corpus AS ({_URL_CORPUS_SQL}),
canon AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
         || lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
         || regexp_replace(
              regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
              '/+$', '')
         || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
  FROM (
    SELECT doc_id, url,
           coalesce(array_to_string(list_sort(list_filter(
             string_split(regexp_extract(regexp_replace(url, '#.*$', ''),
                                         '\\?(.*)$', 1), '&'),
             x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_RE}')
           )), '&'), '') AS q
    FROM corpus
  )
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       MIN(doc_id) AS keeper_doc_id
FROM canon
GROUP BY canonical_url
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the standard stage-zero of a web-corpus
    pipeline (CommonCrawl-style processing dedups on canonicalized URL
    before any text is even fetched): lowercase scheme+host, strip the
    fragment, drop tracking params (utm_*/fbclid/gclid/ref), SORT the
    remaining query keys, strip trailing path slashes, then one
    groupBy on the canonical string keeping the lowest doc_id.

    All pure built-ins (regexp_extract / filter / array_sort /
    array_join) — zero Python, whole-stage codegen end to end; the
    same composition the `fn_url` family exercises piecewise
    (operators/scalar_fns.py). At 100 TB this is the cheapest dedup
    stage there is: the map side reduces each record to a short
    canonical string and the single shuffle moves O(distinct URLs) —
    the shape of dedup_exact, minus even the SHA-256.
    """
    corpus = _seeded_url_corpus(load_table(spark, sf_dir, "documents"))
    nofrag = F.regexp_replace(F.col("url"), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(F.col("url"), r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(F.col("url"), r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(F.col("url"), r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        r"/+$",
        "",
    )
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(nofrag, r"\?(.*)$", 1), "&"),
            lambda x: (x != "") & ~x.rlike(_TRACKING_RE),
        )
    )
    q = F.array_join(params, "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        corpus.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# substring-span dedup — cross-document K-token exact spans (r9)
# ---------------------------------------------------------------------------

_SPAN_OFFSET = 3_000_000  # injected shared-middle-span variants
_SPAN_K = 8  # span granularity in tokens (Lee et al. use 50; the
#              test docs average ~54 tokens, so K=8 keeps the same
#              multi-shingle-island geometry at toy scale)

# Injected docs share tokens 5..24 of every 5th base doc, wrapped in
# unique filler — a duplicated MIDDLE that doc-level exact/near dedup
# misses but span dedup must find.
_SPAN_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET} AS doc_id,
         'injected preamble alpha beta gamma delta '
         || array_to_string(({_TOKENS_SQL})[5:24], ' ')
         || ' epsilon zeta eta theta closing omega' AS text
  FROM documents WHERE doc_id % 5 = 0
"""


def _seeded_span_corpus(docs: DataFrame) -> DataFrame:
    mids = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _SPAN_OFFSET).alias("doc_id"),
        F.concat(
            F.lit("injected preamble alpha beta gamma delta "),
            F.array_join(F.slice(tokens(), 5, 20), " "),
            F.lit(" epsilon zeta eta theta closing omega"),
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(mids)


def _positional_shingles_sqlx(toks: str, k: int) -> str:
    """ORDERED word k-gram array (index i = shingle starting at token
    i+1) — the position-preserving sibling of :func:`_shingles_sqlx`
    (no ``array_distinct``), built with the same shifted-slice
    ``zip_with`` fold so the token expression is referenced O(k) times
    per ROW, not per output element (see :func:`_shingles_sqlx` for the
    measured O(tokens²) trap). Caller must guarantee ``size(toks) >= k``:
    every shifted slice then has the full ``size-k+1`` elements and no
    NULL padding (= no partial shingles) occurs, hence no greatest."""
    m = f"(size({toks}) - {k - 1})"
    acc = f"slice({toks}, 1, {m})"
    for j in range(2, k + 1):
        acc = (
            f"zip_with({acc}, slice({toks}, {j}, {m}),"
            " (a, b) -> concat_ws(' ', a, b))"
        )
    return acc


@register(
    "dedup_substring_span",
    oracle=f"""
WITH corpus AS ({_SPAN_CORPUS_SQL}),
toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus
),
long_docs AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= {_SPAN_K}),
ex AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, len(tk) - {_SPAN_K - 1})) AS pos
  FROM long_docs
),
sh AS (
  SELECT doc_id, pos,
         array_to_string(tk[pos:pos+{_SPAN_K - 1}], ' ') AS s
  FROM ex
),
dup AS (
  SELECT s FROM (SELECT DISTINCT s, doc_id FROM sh)
  GROUP BY s HAVING COUNT(*) >= 2
),
marks AS (
  SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (s)
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM marks
  )
),
spans AS (
  SELECT doc_id, island,
         MAX(pos) - MIN(pos) + {_SPAN_K} AS span_tokens
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
FROM spans GROUP BY doc_id
""",
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring-level exact dedup — the K-token-span
    family of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed as a BUCKET JOIN instead of
    a global suffix array: hash every K-token shingle WITH its
    position, keep shingles seen in ≥2 distinct docs, then merge each
    doc's duplicated positions into maximal spans (interval union —
    two positions join one span when they are ≤ K apart, i.e. their
    token intervals overlap or touch). Output per affected doc: span
    count, duplicated-token total, longest span — the numbers a
    corpus pipeline uses to cut spans or drop docs.

    Finds duplicated MIDDLES that every doc-level strategy above
    misses (the injected corpus plants exactly that: a shared
    20-token interior wrapped in unique filler).

    Scale (100 TB): total work is O(corpus tokens) rows through ONE
    distinct + ONE count-partial-agg shuffle (the `(s, doc_id)`
    distinct collapses within-doc repeats before the count, so a
    stopword shingle never builds a per-key list), a hash join back,
    and a per-doc window whose partitions are bounded by document
    length. At production scale the join key becomes
    ``xxhash64(shingle)`` (8 bytes instead of ~K words shuffled;
    collision rate 2^-64 per pair) — kept as the raw string here so
    the DuckDB oracle is bit-exact.
    """
    # r16 (guide §2.5 input skew): the fixture scan is one row group →
    # one task, serializing the dominant per-row work (tokenize + K−1
    # shingle folds) on a single core; widen_scan spreads it across
    # the session's slots and is a no-op on properly-split inputs.
    # Downstream is all key-based (distinct/groupBy/per-doc window) —
    # row order is immaterial. A/B at sf0.1: warm 1.9–2.5 → 1.3–1.7 s,
    # cold 7.1 → 2.9 s.
    corpus = widen_scan(
        _seeded_span_corpus(load_table(spark, sf_dir, "documents"))
    )
    tk = tokens()
    long_docs = corpus.select("doc_id", tk.alias("tk")).filter(
        F.size("tk") >= _SPAN_K
    )
    sh = long_docs.select(
        "doc_id",
        F.posexplode(F.expr(_positional_shingles_sqlx("tk", _SPAN_K))).alias(
            "pos0", "s"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    # Two consumers (dup derivation + mark join): persist for the same
    # CollapseProject/recompute reason as the blocked-join dedup ops.
    sh = sh.persist()
    dup = (
        sh.select("s", "doc_id")
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("s")
    )
    marks = sh.join(dup, "s").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = marks.withColumn("prev", F.lag("pos").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > _SPAN_K),
                1,
            ).otherwise(0)
        ).over(w),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + _SPAN_K).alias("span_tokens")
    )
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
    )


@register(
    "dedup_substring_scrub",
    oracle=f"""
WITH corpus AS ({_SPAN_CORPUS_SQL}),
toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus
),
long_docs AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= {_SPAN_K}),
ex AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, len(tk) - {_SPAN_K - 1})) AS pos
  FROM long_docs
),
sh AS (
  SELECT doc_id, pos,
         array_to_string(tk[pos:pos+{_SPAN_K - 1}], ' ') AS s
  FROM ex
),
dup AS (
  SELECT s, MIN(doc_id) AS keeper
  FROM (SELECT DISTINCT s, doc_id FROM sh)
  GROUP BY s HAVING COUNT(*) >= 2
),
cuts AS (
  SELECT sh.doc_id, sh.pos
  FROM sh JOIN dup USING (s)
  WHERE sh.doc_id > dup.keeper
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM cuts
  )
),
iv AS (
  SELECT doc_id, island,
         MIN(pos) AS st, MAX(pos) + {_SPAN_K - 1} AS en
  FROM isl GROUP BY doc_id, island
),
ivs AS (
  SELECT doc_id,
         flatten(list(generate_series(st, en))) AS cutpos,
         SUM(en - st + 1) AS n_cut
  FROM iv GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(v.n_cut, 0) AS BIGINT) AS n_tokens_removed,
       CAST(len(t.tk) - COALESCE(v.n_cut, 0) AS BIGINT) AS n_tokens_kept,
       COALESCE(array_to_string(
         list_transform(
           list_filter(generate_series(1, len(t.tk)),
                       i -> v.cutpos IS NULL OR NOT list_contains(v.cutpos, i)),
           i -> t.tk[i]),
         ' '), '') AS scrubbed_text
FROM toks t LEFT JOIN ivs v ON v.doc_id = t.doc_id
""",
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM sibling of dedup_substring_span — the step Lee et
    al. 2022 actually apply to the corpus: every duplicated K-token
    span is CUT from all but its first occurrence (keeper = the lowest
    doc_id containing the shingle), and each document's text is
    rebuilt from its surviving tokens. Output per document: tokens
    removed / kept and the scrubbed text itself (value-hash-compared
    against the DuckDB twin — the strongest oracle in the dedup
    family, since any positional slip changes the string).

    Same candidate machinery as dedup_substring_span (positional
    shingles → distinct-doc gate → per-doc interval union); the cut
    intervals are disjoint by construction (islands merge positions ≤K
    apart), so removed-token counts are exact interval sums. The
    rebuild expands cut intervals into a per-doc position list and
    filters a position-indexed token array — O(doc_len × cut_spans)
    per document, no nested-lambda capture (portable to the DuckDB
    twin), bounded by document length.

    Scale: identical shuffle profile to dedup_substring_span (the
    report op) plus one broadcast-sized join of cut-interval lists
    back onto the corpus — the scrub itself is map-side. At 100 TB the
    keeper rule (global-min doc id per shingle) is the same
    single-pass min aggregate it is here.
    """
    # r16: widen the single-row-group scan like dedup_substring_span
    # (the shingle fold is the dominant per-row term; key-based
    # downstream, so order is immaterial — cutpos is consumed by
    # membership only)
    corpus = widen_scan(
        _seeded_span_corpus(load_table(spark, sf_dir, "documents"))
    )
    tk = tokens()
    toks = corpus.select("doc_id", tk.alias("tk"))
    long_docs = toks.filter(F.size("tk") >= _SPAN_K)
    sh = long_docs.select(
        "doc_id",
        F.posexplode(F.expr(_positional_shingles_sqlx("tk", _SPAN_K))).alias(
            "pos0", "s"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    sh = sh.persist()  # two consumers: keeper derivation + cut join
    dup = (
        sh.select("s", "doc_id")
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("nd"), F.min("doc_id").alias("keeper"))
        .filter(F.col("nd") >= 2)
        .select("s", "keeper")
    )
    cuts = (
        sh.join(dup, "s")
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = cuts.withColumn("prev", F.lag("pos").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > _SPAN_K),
                1,
            ).otherwise(0)
        ).over(w),
    )
    iv = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("st"),
        (F.max("pos") + _SPAN_K - 1).alias("en"),
    )
    ivs = iv.groupBy("doc_id").agg(
        F.flatten(
            F.collect_list(F.sequence(F.col("st"), F.col("en")))
        ).alias("cutpos"),
        F.sum(F.col("en") - F.col("st") + 1).alias("n_cut"),
    )
    joined = toks.join(ivs, "doc_id", "left")
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size("tk")),
        lambda i: F.col("cutpos").isNull()
        | ~F.array_contains(F.col("cutpos"), i),
    )
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_cut"), F.lit(0)).cast("long").alias(
            "n_tokens_removed"
        ),
        (F.size("tk") - F.coalesce(F.col("n_cut"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_kept"),
        F.array_join(
            F.transform(kept_idx, lambda i: F.element_at(F.col("tk"), i)), " "
        ).alias("scrubbed_text"),
    )


# ---------------------------------------------------------------------------
# incremental MinHash dedup — new batch vs EXISTING index (r9)
# ---------------------------------------------------------------------------

_NOVEL_OFFSET = 4_000_000  # batch docs sharing NO shingles with the index

# The daily-ingest shape: the index is the already-deduped corpus
# (documents as-is); the incoming batch mixes near-copies of every 3rd
# index doc with genuinely novel docs (every 7th doc's words tagged so
# no shingle collides).
_INC_BATCH_SQL = f"""
  SELECT doc_id + {_NEAR_OFFSET} AS doc_id,
         text || ' trailing marker' AS text
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {_NOVEL_OFFSET} AS doc_id,
         array_to_string(list_transform(string_split(text, ' '),
                                        w -> w || '_nv'), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
"""


def _inc_batch(docs: DataFrame) -> DataFrame:
    near = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing marker")).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _NOVEL_OFFSET).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("_nv")),
            ),
            " ",
        ).alias("text"),
    )
    return near.unionByName(novel)


def _sig_table_sql(corpus: str) -> str:
    return f"""
  SELECT doc_id, sset,
         {_minhash_signature_sql(_shingle_hashes_sql("th"))} AS sig
  FROM (
    SELECT doc_id, {_shingles_sql("toks")} AS sset,
           {_token_hashes_sql("toks")} AS th
    FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM ({corpus}))
  )"""


@register(
    "dedup_incremental_minhash",
    oracle=f"""
WITH isig AS ({_sig_table_sql("SELECT doc_id, text FROM documents")}),
bsig AS ({_sig_table_sql(_INC_BATCH_SQL)}),
ib AS (
  SELECT doc_id, j AS band_idx, {_band_hash_sql("sig", "j")} AS band_hash
  FROM isig CROSS JOIN (SELECT unnest(generate_series(0, {_BANDS - 1})) AS j) g
),
bb AS (
  SELECT doc_id, j AS band_idx, {_band_hash_sql("sig", "j")} AS band_hash
  FROM bsig CROSS JOIN (SELECT unnest(generate_series(0, {_BANDS - 1})) AS j) g
),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, i.doc_id AS index_id
  FROM bb b JOIN ib i
    ON b.band_idx = i.band_idx AND b.band_hash = i.band_hash
),
scored AS (
  SELECT c.batch_id, c.index_id,
         CAST(floor(CAST(len(list_intersect(sb.sset, si.sset)) AS DOUBLE)
               / len(list_distinct(sb.sset || si.sset)) * 1e6 + 0.5) AS BIGINT)
           AS jac6
  FROM cand c
  JOIN bsig sb ON sb.doc_id = c.batch_id
  JOIN isig si ON si.doc_id = c.index_id
),
best AS (
  SELECT batch_id, index_id, jac6,
         row_number() OVER (PARTITION BY batch_id
                            ORDER BY jac6 DESC, index_id ASC) AS rn
  FROM scored WHERE jac6 >= {int(_JACCARD_THRESHOLD * 1e6)}
)
SELECT b.doc_id AS batch_doc_id,
       CASE WHEN best.index_id IS NOT NULL THEN 'dup' ELSE 'novel' END
         AS verdict,
       best.index_id AS matched_index_doc,
       best.jac6 / 1e6 AS jaccard
FROM (SELECT doc_id FROM ({_INC_BATCH_SQL})) b
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON best.batch_id = b.doc_id
""",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash dedup — the production daily-ingest shape:
    a new batch is probed against the EXISTING corpus' signature index
    (an asymmetric band-bucket join), never against itself. Each batch
    doc gets a verdict: 'dup' with its best index match (highest exact
    Jaccard, ties to the lowest index doc_id) or 'novel'.

    This is the operator that makes dedup O(batch) per day instead of
    O(corpus): the index signatures are computed once and persisted
    (here rebuilt from `documents` — at scale they're the standing
    signature table the corpus pipeline maintains, ~0.3% of corpus
    bytes), and the daily work is batch-signature computation + one
    bucket join whose index side is partition-pruned by band hash.
    Complements dedup_minhash_near (the one-shot self-join form).

    Scale: identical LSH guarantees (8 bands × 4 rows); the bucket
    join's index side at 100 TB is bucketed storage on
    (band_idx, band_hash), so the probe is a co-located join with no
    index-side shuffle; the best-match window partitions by batch doc
    (bounded by its candidate count).
    """
    docs = load_table(spark, sf_dir, "documents")

    def sig_table(corpus: DataFrame) -> DataFrame:
        return (
            corpus.select(
                "doc_id",
                F.expr(_shingles_sqlx(_TOKENS_SQLX)).alias("sset"),
                F.expr(_token_hashes_sqlx(_TOKENS_SQLX)).alias("th"),
            )
            .select(
                "doc_id",
                "sset",
                F.expr(
                    _minhash_signature_sqlx(_shingle_hashes_sqlx("th"))
                ).alias("sig"),
            )
            .persist()  # both the band explode and the sset re-attach
        )

    isig = sig_table(docs.select("doc_id", "text"))
    bsig = sig_table(_inc_batch(docs))

    def buckets(sig_df: DataFrame) -> DataFrame:
        return sig_df.select(
            "doc_id",
            F.posexplode(F.expr(_band_hashes_sqlx("sig"))).alias(
                "band_idx", "band_hash"
            ),
        )

    cand = (
        buckets(bsig)
        .alias("b")
        .join(
            buckets(isig).alias("i"),
            (F.col("b.band_idx") == F.col("i.band_idx"))
            & (F.col("b.band_hash") == F.col("i.band_hash")),
        )
        .select(
            F.col("b.doc_id").alias("batch_id"),
            F.col("i.doc_id").alias("index_id"),
        )
        .dropDuplicates(["batch_id", "index_id"])
    )
    scored = (
        cand.join(
            bsig.select(F.col("doc_id").alias("batch_id"), F.col("sset").alias("sb")),
            "batch_id",
        )
        .join(
            isig.select(F.col("doc_id").alias("index_id"), F.col("sset").alias("si")),
            "index_id",
        )
        .select(
            "batch_id",
            "index_id",
            F.floor(
                F.size(F.array_intersect("sb", "si")).cast("double")
                / F.size(F.array_union("sb", "si"))
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("jac6"),
        )
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.desc("jac6"), F.asc("index_id")
    )
    best = (
        scored.filter(F.col("jac6") >= int(_JACCARD_THRESHOLD * 1e6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        _inc_batch(docs)
        .select(F.col("doc_id").alias("batch_doc_id"))
        .join(best, F.col("batch_doc_id") == F.col("batch_id"), "left")
        .select(
            "batch_doc_id",
            F.when(F.col("index_id").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.col("index_id").alias("matched_index_doc"),
            (F.col("jac6") / F.lit(1e6)).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# soft dedup: per-document sampling weights from duplicate clusters (r11)
# ---------------------------------------------------------------------------


@register(
    "sample_dedup_weights",
    oracle=f"""
WITH corpus AS ({_SEEDED_SQL}),
hashed AS (
  SELECT doc_id, sha256({_NORM_SQL}) AS content_hash FROM corpus
),
sized AS (
  SELECT doc_id, content_hash,
         COUNT(*) OVER (PARTITION BY content_hash) AS n_copies,
         MIN(doc_id) OVER (PARTITION BY content_hash) AS keeper
  FROM hashed
)
SELECT doc_id,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST(1000000 // n_copies AS BIGINT) AS weight_micro,
       doc_id = keeper AS is_keeper
FROM sized
ORDER BY doc_id
""",
)
def sample_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of discarding duplicates, assign every
    document a sampling weight 1/cluster_size from its exact-dup
    cluster — repeated content contributes one document's worth of
    probability mass in total, however many copies exist. This is the
    down-weighting alternative to hard removal used when duplicates
    carry signal (popular = quoted everywhere) that outright deletion
    would erase; downstream samplers (sample_weighted_poisson) consume
    weight_micro directly.

    Plan: the dedup_exact derivation (normalize → sha256 — text never
    shuffles, only 32-byte hashes) but keeping EVERY row: cluster size
    and keeper come from count/min windows partitioned on the hash —
    ONE exchange, and the count window needs no ordering so there is
    no sort within partitions. Weights are integer micro-units
    (1e6 // n, floor division in both engines) — exact, portable.
    """
    corpus = seeded_exact_corpus(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("content_hash")
    hashed = corpus.select(
        "doc_id", F.sha2(normalized(), 256).alias("content_hash")
    )
    return (
        hashed.withColumn("n_copies", F.count("*").over(w))
        .withColumn("keeper", F.min("doc_id").over(w))
        .select(
            "doc_id",
            F.col("n_copies").cast("long").alias("n_copies"),
            F.expr("1000000 div n_copies").cast("long").alias("weight_micro"),
            (F.col("doc_id") == F.col("keeper")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# incremental substring-span dedup: probe a persisted shingle index (r13)
# ---------------------------------------------------------------------------

# Batch ids live in the NEGATIVE namespace (sink_merge_upsert's
# negated-key idiom, adopted per r13 ADVICE): corpus doc_ids are
# non-negative, so -(2·id+1) (overlap family, odd) and -(2·id+2)
# (novel family, even) are disjoint from the corpus AND from each
# other at ANY corpus size — the old fixed +5M/+6M offsets collided
# once the corpus passed 1M docs.

_INC_SPAN_BATCH_SQL = f"""
  SELECT -(2 * doc_id + 1) AS doc_id,
         'fresh intro one two three '
         || array_to_string(({_TOKENS_SQL})[5:24], ' ')
         || ' fresh outro seven eight' AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT -(2 * doc_id + 2) AS doc_id,
         array_to_string(list_transform(string_split(text, ' '),
                                        w -> w || '_nv'), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
"""


def _inc_span_batch(docs: DataFrame) -> DataFrame:
    """Today's ingest against the standing corpus: docs that embed a
    20-token interior copied from an index doc (unique filler around
    it — the span family's planted shape), plus novel docs whose every
    token is suffixed so no K-shingle can match the index."""
    overlap = docs.filter(F.col("doc_id") % 5 == 0).select(
        (-(F.col("doc_id") * 2 + 1)).alias("doc_id"),
        F.concat(
            F.lit("fresh intro one two three "),
            F.array_join(F.slice(tokens(), 5, 20), " "),
            F.lit(" fresh outro seven eight"),
        ).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 7 == 0).select(
        (-(F.col("doc_id") * 2 + 2)).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("_nv")),
            ),
            " ",
        ).alias("text"),
    )
    return overlap.unionByName(novel)


@register(
    "dedup_incremental_substring",
    oracle=f"""
WITH idx_toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents
),
idx_sh AS (
  SELECT DISTINCT array_to_string(tk[pos:pos+{_SPAN_K - 1}], ' ') AS s
  FROM (
    SELECT tk, unnest(generate_series(1, len(tk) - {_SPAN_K - 1})) AS pos
    FROM idx_toks WHERE len(tk) >= {_SPAN_K}
  )
),
batch AS ({_INC_SPAN_BATCH_SQL}),
btoks AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM batch
),
bsh AS (
  SELECT doc_id, pos, array_to_string(tk[pos:pos+{_SPAN_K - 1}], ' ') AS s
  FROM (
    SELECT doc_id, tk,
           unnest(generate_series(1, len(tk) - {_SPAN_K - 1})) AS pos
    FROM btoks WHERE len(tk) >= {_SPAN_K}
  )
),
marks AS (
  SELECT b.doc_id, b.pos FROM bsh b JOIN idx_sh i ON i.s = b.s
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM marks
  )
),
spans AS (
  SELECT doc_id, island,
         MAX(pos) - MIN(pos) + {_SPAN_K} AS span_tokens
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id,
         COUNT(*) AS n_spans,
         SUM(span_tokens) AS dup_tokens,
         MAX(span_tokens) AS max_span_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id AS batch_doc_id,
       CASE WHEN p.n_spans IS NOT NULL THEN 'overlap' ELSE 'novel' END
         AS verdict,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
FROM batch b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
""",
)
def dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL substring-span dedup — the cross-run sibling of
    ``dedup_substring_span`` the way ``dedup_incremental_minhash`` is
    the cross-run sibling of ``dedup_minhash_near``: the standing
    corpus' positional K-token shingles are DISTINCT-ed once and
    PERSISTED as a scratch parquet index (mtime-keyed, rebuilt only
    when the source fixture changes); each day's batch probes that
    index with an asymmetric join — batch shingles never self-join,
    and the index is never recomputed. Per batch doc: an
    'overlap'/'novel' verdict plus the span statistics
    (count / duplicated tokens / longest span) a curation pipeline
    uses to cut the copied interval or drop the doc before it enters
    the corpus.

    The planted batch: docs embedding a 20-token interior copied from
    an index doc inside unique filler (found: interior span, ~13
    marked positions merging into one island), and novel docs whose
    every token is suffixed (no K-shingle can match — exercise the
    'novel' path end-to-end).

    Scale (100 TB): the index is the daily artifact that makes
    substring dedup O(batch): ~1 row per corpus token ONCE, stored
    sorted/bucketed on the shingle key so the probe is a co-located
    join with no index-side shuffle; daily work is batch shingling +
    one bucket join + a per-doc window bounded by document length. At
    production scale the stored key becomes ``xxhash64(shingle)``
    (8 bytes/row; collision odds 2^-64 per pair) — kept as the raw
    string here so the DuckDB oracle is bit-exact.
    """
    from etl_8x8_spark.sources.readers import derived, read_parquet

    docs = load_table(spark, sf_dir, "documents")

    def write(idx_path: str) -> None:
        tk = tokens()
        (
            widen_scan(docs).select("doc_id", tk.alias("tk"))
            .filter(F.size("tk") >= _SPAN_K)
            .select(
                F.explode(
                    F.expr(_positional_shingles_sqlx("tk", _SPAN_K))
                ).alias("s")
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(idx_path)
        )

    idx_path = derived(sf_dir, "substr_sh_index", ["documents"], write)
    index = read_parquet(spark, idx_path)

    batch = _inc_span_batch(docs)
    btk = batch.select("doc_id", tokens().alias("tk")).filter(
        F.size("tk") >= _SPAN_K
    )
    bsh = btk.select(
        "doc_id",
        F.posexplode(F.expr(_positional_shingles_sqlx("tk", _SPAN_K))).alias(
            "pos0", "s"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    # inner join, not left_semi: the index is DISTINCT by construction
    # so no mark can duplicate, and the probe stays a plain hash join
    marks = bsh.join(index, "s").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = marks.withColumn("prev", F.lag("pos").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > _SPAN_K),
                1,
            ).otherwise(0)
        ).over(w),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + _SPAN_K).alias("span_tokens")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
        F.max("span_tokens").alias("max_span_tokens"),
    )
    return (
        batch.select(F.col("doc_id").alias("batch_doc_id"))
        .join(
            per_doc,
            F.col("batch_doc_id") == F.col("doc_id"),
            "left",
        )
        .select(
            "batch_doc_id",
            F.when(F.col("n_spans").isNotNull(), F.lit("overlap"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.coalesce(F.col("max_span_tokens"), F.lit(0))
            .cast("long")
            .alias("max_span_tokens"),
        )
    )
