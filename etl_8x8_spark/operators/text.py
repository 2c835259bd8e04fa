"""Text-analysis operators over the ``documents`` table (BASELINE
north star: token counting, quality scoring, language-ID, TF-IDF,
fingerprinting).

All pure built-in expressions over tokenized text — `split`/`explode`/
`groupBy`/window — so every operator here is codegen'd and shuffles at
most once on a low-cardinality key (term or lang). Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8x8_spark.operators.dedup import (
    _NORM_SQL,
    _PH_B_MOD,
    _PH_B_MUL,
    _TOKENS_SQL,
    _TOKENS_SQLX,
    _shingles_sqlx,
    _token_hashes_sql,
    _token_hashes_sqlx,
    normalized,
    tokens,
)
from etl_8x8_spark.registry import register
from etl_8x8_spark.sources.readers import load_table, widen_scan

# A small function-word list: quality scoring + language ID both key on
# it. Deliberately tiny and inlined in the oracles.
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
_STOP_SQL = "('" + "', '".join(_STOPWORDS) + "')"


@register(
    "text_analysis_stats",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, n_chars, {_TOKENS_SQL} AS toks FROM documents
)
SELECT doc_id,
       lang,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(floor((CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / len(toks)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS avg_token_len,
       CAST(floor((CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE)
             / len(toks)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS stopword_ratio,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
         AND len(toks) >= 10 AS is_quality
FROM tok
""",
)
def text_analysis_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char/quality stats: token count, distinct
    tokens, average token length, stopword ratio, and a boolean
    quality gate (type-token ratio ≥ 0.3 and ≥ 10 tokens — the shape
    of a Gopher/C4-style quality rule).

    Scale: narrow-only (no shuffle at all) — every stat is a
    higher-order function over the per-row token array.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    df = docs.select("doc_id", "lang", "n_chars", toks.alias("toks"))
    n = F.size("toks")
    n_uniq = F.size(F.array_distinct("toks"))
    tok_len_sum = F.aggregate(
        F.col("toks"), F.lit(0), lambda acc, t: acc + F.length(t)
    )
    n_stop = F.size(
        F.filter("toks", lambda t: t.isin(_STOPWORDS))
    )
    return df.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.floor((tok_len_sum.cast("double") / n) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("avg_token_len"),
        (F.floor((n_stop.cast("double") / n) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("stopword_ratio"),
        ((n_uniq.cast("double") / n >= 0.3) & (n >= 10)).alias("is_quality"),
    )


@register(
    "text_lang_id",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE)
           / len(toks) AS en_score,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
              AS DOUBLE) / len(toks) AS latin_ratio
  FROM tok
)
SELECT doc_id, lang,
       CAST(floor((en_score) * 1e6 + 0.5) AS BIGINT) / 1e6 AS en_score,
       CAST(floor((latin_ratio) * 1e6 + 0.5) AS BIGINT) / 1e6 AS latin_ratio,
       CASE WHEN en_score >= 0.05 THEN 'en'
            WHEN latin_ratio >= 0.9 THEN 'latin-other'
            ELSE 'unknown' END AS pred_lang
FROM scored
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: function-word hit rate (English marker)
    + Latin-alphabet ratio, thresholded into a 3-way verdict — the
    n-gram-heuristic shape of a fastText-less lang-ID pass. Narrow-only
    at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    df = docs.select("doc_id", "lang", tokens().alias("toks"))
    n = F.size("toks")
    en_score = (
        F.size(F.filter("toks", lambda t: t.isin(_STOPWORDS))).cast("double") / n
    )
    latin = (
        F.size(F.filter("toks", lambda t: t.rlike(r"^[a-z]+$"))).cast("double") / n
    )
    return df.select(
        "doc_id",
        "lang",
        (F.floor((en_score) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("en_score"),
        (F.floor((latin) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("latin_ratio"),
        F.when(en_score >= 0.05, "en")
        .when(latin >= 0.9, "latin-other")
        .otherwise("unknown")
        .alias("pred_lang"),
    )


_TFIDF_TOP_K = 50


@register(
    "text_tfidf_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
),
stats AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS tf_total,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM tok GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
ranked AS (
  SELECT term, tf_total, doc_freq,
         CAST(floor((ln((n.n_docs + 1.0) / (doc_freq + 1.0))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS idf,
         row_number() OVER (ORDER BY tf_total DESC, term ASC) AS rank
  FROM stats, n
)
SELECT term, tf_total, doc_freq, idf, rank
FROM ranked WHERE rank <= {_TFIDF_TOP_K}
""",
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level term statistics: total term frequency, document
    frequency, smoothed IDF, top-K terms.

    Ranking key is (tf_total DESC, term ASC) — integer + string, so the
    cross-engine ordering is exact; the double-valued IDF is displayed
    (rounded) but never used as a sort key. Scale: explode + one
    groupBy on term (partial aggregation collapses per-partition
    duplicates before the shuffle); the top-K is ``orderBy().limit``,
    which Spark executes as TakeOrderedAndProject — each partition
    keeps its own K best and only K x partitions rows merge — NOT a
    global rank window + filter (this build's InferWindowGroupLimit
    fires only for partitioned windows, so the window form would pull
    the whole vocabulary — unboundedly growing at 100 TB — into one
    task; pinned by tests/test_r8_ops.py). The rank window then runs
    over the <=K-row survivor set, bounded by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("term"))
    stats = tok.groupBy("term").agg(
        F.count("*").alias("tf_total"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    top = stats.orderBy(F.col("tf_total").desc(), F.col("term").asc()).limit(
        _TFIDF_TOP_K
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    w = Window.orderBy(F.col("tf_total").desc(), F.col("term").asc())
    return top.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "tf_total",
        "doc_freq",
        (F.floor((F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0))) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("idf"),
        F.row_number().over(w).alias("rank"),
    )


# Polynomial rolling-hash parameters — small modulus keeps the
# arithmetic exact in both engines' 64-bit integers.
_FP_MOD = 1_000_000_007
_FP_MUL = 31


@register(
    "text_fingerprint",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(toks, t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
         (acc, v) -> (acc * {_FP_MUL} + v) % {_FP_MOD}
       ) AS fingerprint
FROM tok
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: a polynomial rolling hash
    folded left over the token stream (mod a 31-bit prime so the
    arithmetic never overflows and both engines agree exactly).
    Reordering two tokens changes the fingerprint — unlike a content
    set hash. Narrow-only at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    df = docs.select("doc_id", tokens().alias("toks"))
    fp = F.aggregate(
        F.transform(
            F.col("toks"),
            lambda t: (F.ascii(t) * 131 + F.length(t)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * _FP_MUL + v) % _FP_MOD,
    )
    return df.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        fp.alias("fingerprint"),
    )


@register(
    "text_ngram_counts",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
grams AS (
  SELECT unnest(list_transform(
           generate_series(1, len(toks) - 2),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM tok
)
SELECT gram,
       COUNT(*) AS n_occurrences
FROM grams
GROUP BY gram
HAVING COUNT(*) >= 5
""",
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-trigram frequency table (min count 5) — the
    n-gram statistics pass LM data work leans on (contamination
    checks, boilerplate detection, n-gram LM features).

    Plan: per-doc trigrams from one higher-order ``transform`` (no
    self-join), explode, then a single count shuffle keyed by gram;
    the HAVING cut happens post-aggregation, and partial (map-side)
    counts do the heavy lifting because boilerplate grams repeat
    within every input partition. At 100 TB the gram key space is the
    scale risk — production adds a frequency floor per partition
    (local HAVING) or count-min prefilter before the global shuffle;
    semantics here stay exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    # trigrams as zip_with over three shifted slices — every lambda
    # references only its own element, so the token split evaluates
    # O(1) times per ROW; an element_at(toks, i) inside the lambda
    # would re-derive the split per OUTPUT ELEMENT (measured 9.2 s vs
    # 0.4 s at sf0.1 — the higher-order-function twin of the
    # CollapseProject duplication trap)
    glen = F.greatest(F.size(toks) - 2, F.lit(0))
    grams = F.zip_with(
        F.zip_with(
            F.slice(toks, 1, glen),
            F.slice(toks, 2, glen),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(toks, 3, glen),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    return (
        docs.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 5)
    )


_CONTAM_BENCH_DOCS = 5  # doc_id < 5 form the "benchmark" set


@register(
    "text_contamination_check",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS g
  FROM tok
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < {_CONTAM_BENCH_DOCS}),
counts AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         COUNT(*) FILTER (WHERE b.g IS NOT NULL) AS n_overlap
  FROM sh s LEFT JOIN bench b ON s.g = b.g
  WHERE s.doc_id >= {_CONTAM_BENCH_DOCS}
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_overlap,
       CAST(floor((CAST(n_overlap AS DOUBLE) / n_shingles) * 1e6 + 0.5) AS BIGINT) / 1e6 AS overlap_ratio
FROM counts
WHERE n_overlap > 0
""",
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every corpus document, the
    fraction of its word-trigram shingles that appear in a held-out
    "benchmark" set (here: docs 0-{_CONTAM_BENCH_DOCS}) — the
    decontamination pass every LLM training pipeline runs against eval
    suites before training.

    Plan: corpus shingles explode once; the benchmark shingle set is
    tiny and BROADCASTS, so the membership test is a map-side hash
    probe — no shuffle of the corpus. Only contaminated docs
    (n_overlap > 0) are emitted, which at 100 TB is the difference
    between a report and a full-corpus dump.
    """
    # r16 (guide §2.5): widen the one-row-group fixture scan so the
    # per-row token work runs on every core (no-op on split inputs)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(F.expr(_shingles_sqlx(_TOKENS_SQLX))).alias("g")
    )
    bench = (
        sh.filter(F.col("doc_id") < _CONTAM_BENCH_DOCS)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter(F.col("doc_id") >= _CONTAM_BENCH_DOCS)
    joined = corpus.join(F.broadcast(bench), "g", "left")
    n = F.count("*")
    n_overlap = F.count("hit")
    return (
        joined.groupBy("doc_id")
        .agg(
            n.alias("n_shingles"),
            n_overlap.alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.floor((F.col("n_overlap").cast("double") / F.col("n_shingles")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("overlap_ratio"),
        )
    )

# --------------------------------------------------------------------------
# sequence packing — token-budget pack assignment
# --------------------------------------------------------------------------

_PACK_BUDGET = 200  # tokens per pack (docs here average ~30 tokens)


@register(
    "text_token_budget_pack",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
FROM c
""",
)
def text_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign every document to a
    token-budget pack (the batch/shard construction step of an LLM
    training pipeline — documents stream into fixed-token-budget bins
    in a deterministic order).

    Pack id = (cumulative tokens BEFORE this doc) ``div`` budget over
    a per-language running sum ordered by doc_id: deterministic,
    integer-exact (integer division, never a float quotient — doubles
    drift past 2^53 cumulative tokens), and computed with ONE window
    (= one shuffle on lang + sort). A doc straddling a boundary
    belongs to the pack its first token falls in.

    Scale: the window partition key is the PACKING DOMAIN. Partition
    by lang alone only if a language's corpus fits a task; at 100 TB
    pack within (lang, day) or (lang, shard) — same plan, finer key.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(tokens()).cast("long")
    df = docs.select("doc_id", "lang", n_tok.alias("n_tokens")).withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    )
    return df.withColumn(
        "pack_id",
        F.expr(f"(cum_tokens - n_tokens) div {_PACK_BUDGET}"),
    )


# --------------------------------------------------------------------------
# PII redaction — regex scrub with per-class counts
# --------------------------------------------------------------------------

# Deterministic PII planting (same idiom as dedup's seeded corpora —
# the test tables carry no PII, so the fixture plants synthetic
# addresses/numbers derived from doc_id; both engines derive the
# identical corpus inline).
_PII_SQL = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' host 10.0.' || (doc_id % 256) || '.' || (doc_id % 250 + 1)
                 ELSE '' END AS text
  FROM documents
"""

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\d{3}-\d{3}-\d{4}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def seeded_pii_corpus(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """documents with synthetic PII appended to deterministic rows;
    ``keep`` carries extra columns through (e.g. lang for the composed
    pipeline)."""
    d = F.col("doc_id")
    email = F.when(
        d % 5 == 0,
        F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
    ).otherwise("")
    phone = F.when(
        d % 7 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    ip = F.when(
        d % 11 == 0,
        F.concat(
            F.lit(" host 10.0."),
            (d % 256).cast("string"),
            F.lit("."),
            (d % 250 + 1).cast("string"),
        ),
    ).otherwise("")
    return docs.select(
        "doc_id", *keep, F.concat("text", email, phone, ip).alias("text")
    )


@register(
    "text_pii_redact",
    oracle=f"""
WITH corpus AS ({_PII_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_IP_RE}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g'),
             '{_IP_RE}', '[IP]', 'g')) AS redacted_md5,
       len(regexp_extract_all(text, '{_EMAIL_RE}'))
         + len(regexp_extract_all(text, '{_PHONE_RE}'))
         + len(regexp_extract_all(text, '{_IP_RE}')) > 0 AS had_pii
FROM corpus
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails / phone numbers / IPv4
    addresses with class-specific placeholders — the compliance pass
    every shared training corpus runs before anything else reads it.

    Pure codegen'd regex built-ins (``regexp_extract_all`` for audit
    counts, chained ``regexp_replace`` for the rewrite) — no Python in
    the row path. The output carries the md5 of the redacted text, not
    the text itself, so the hashed comparison covers every redacted
    byte without shipping the corpus through the driver. The regex
    subset used (classes, bounded repeats, ``\\b``) behaves
    identically in Java regex and RE2.

    Scale: narrow-only — zero shuffles; redaction cost is linear in
    corpus bytes and embarrassingly parallel. Email ordering note: the
    email pattern is applied FIRST so its [EMAIL] marker can't eat a
    phone/IP substring planted later in the same doc.
    """
    corpus = seeded_pii_corpus(load_table(spark, sf_dir, "documents"))
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all("text", F.lit(_IP_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ),
        _IP_RE,
        "[IP]",
    )
    return corpus.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        F.md5(F.encode(redacted, "utf-8")).alias("redacted_md5"),
        (n_emails + n_phones + n_ips > 0).alias("had_pii"),
    )


# --------------------------------------------------------------------------
# unigram language-model scoring
# --------------------------------------------------------------------------


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
total AS (SELECT SUM(cnt) AS n FROM freq),
terms AS (
  SELECT t.doc_id,
         CAST(CAST(floor((ln(CAST(f.cnt AS DOUBLE) / CAST(tt.n AS DOUBLE))) * 1e12 + 0.5) AS BIGINT) / 1e12
              AS DECIMAL(28, 12)) AS lp
  FROM tok t JOIN freq f USING (token) CROSS JOIN total tt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(floor((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS avg_logprob
FROM terms GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram language-model score: the mean token
    log-probability under the corpus's own unigram distribution — the
    cheapest member of the perplexity-filter family every LLM corpus
    pipeline runs (docs far below the corpus norm are boilerplate,
    noise, or the wrong language; a real deployment swaps in KenLM
    scores, same dataflow).

    Token probabilities come from one explode + count aggregate; docs
    then join their tokens against the frequency table and fold. The
    per-token ln() terms are rounded to DECIMAL(28,12) BEFORE the
    per-doc sum, so the score is summation-order-proof across engines
    (LESSONS #9; ln() on identical doubles is bit-identical).

    Scale: two shuffles — the vocabulary count (partial+final, key =
    token) and the doc re-aggregation (key = doc_id). The freq join
    broadcasts here (tiny vocab); at 100 TB vocabulary it becomes a
    shuffle equi-join on token — same plan, Catalyst picks by size.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n"))
    terms = (
        tok.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.floor((F.log(F.col("cnt").cast("double") / F.col("n").cast("double"))) * 1e12 + 0.5).cast("long") / F.lit(1e12))
            .cast("decimal(28,12)")
            .alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        (F.floor((F.sum("lp").cast("double") / F.count("*")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias(
            "avg_logprob"
        ),
    )


# --------------------------------------------------------------------------
# composed pre-training corpus pipeline
# --------------------------------------------------------------------------

_PIPE_MIN_TOKENS = 10
_PIPE_MIN_TTR = 0.3
_PIPE_MIX_M = 1_000_000


@register(
    "pipeline_pretrain_corpus",
    oracle=f"""
WITH corpus AS ({_PII_SQL}),
langd AS (
  SELECT c.doc_id, d.lang, c.text,
         len(regexp_extract_all(c.text, '{_EMAIL_RE}'))
           + len(regexp_extract_all(c.text, '{_PHONE_RE}'))
           + len(regexp_extract_all(c.text, '{_IP_RE}')) > 0 AS had_pii,
         regexp_replace(regexp_replace(regexp_replace(c.text,
             '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g'),
             '{_IP_RE}', '[IP]', 'g') AS red
  FROM corpus c JOIN documents d USING (doc_id)
),
normed AS (
  SELECT doc_id, lang, had_pii,
         lower(trim(regexp_replace(red, '\\s+', ' ', 'g'))) AS norm,
         string_split(lower(trim(regexp_replace(red, '\\s+', ' ', 'g'))), ' ')
           AS toks
  FROM langd
),
gated AS (
  SELECT * FROM normed
  WHERE len(toks) >= {_PIPE_MIN_TOKENS}
    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        >= {_PIPE_MIN_TTR}
),
survivors AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY norm
),
kept AS (
  SELECT g.doc_id, g.lang, g.had_pii,
         CAST(len(g.toks) AS BIGINT) AS n_tokens
  FROM gated g JOIN survivors s ON g.doc_id = s.doc_id
),
rates AS (SELECT lang, COUNT(*) AS cnt FROM kept GROUP BY lang),
mn AS (SELECT MIN(cnt) AS mn FROM rates),
sampled AS (
  SELECT k.* FROM kept k JOIN rates r USING (lang) CROSS JOIN mn
  WHERE ((k.doc_id % 2147483648) * 2654435761) % 4294967296
        % {_PIPE_MIX_M} * r.cnt < mn.mn * {_PIPE_MIX_M}
),
packed AS (
  SELECT lang, had_pii, n_tokens,
         CAST((CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM sampled
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(pack_id) + 1 AS BIGINT) AS n_packs,
       CAST(SUM(CASE WHEN had_pii THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs
FROM packed GROUP BY lang
""",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's pre-training corpus pipeline in ONE composed plan:
    PII-redact → quality gate → exact dedup → mixture rebalance →
    token-budget packing → per-language corpus report (docs, tokens,
    packs, redacted-doc counts). Each stage is the registered operator
    of the same name; composing them here proves the pieces are
    actually composable — one Catalyst plan, not five jobs with
    materialized hand-offs.

    Stage order is the one a real corpus build uses: redact FIRST
    (dedup must see scrubbed text so PII variants collapse), gate
    before rebalancing (mixture targets computed over quality docs
    only), pack LAST over the final sample.

    Scale: Catalyst fuses the narrow stages (redact/gate) into the
    scan; the shuffles are dedup's norm groupBy, the rebalance's tiny
    rate aggregate, the per-lang packing window, and the final report
    — each on a bounded or hash-distributed key, so the composition
    adds nothing beyond its parts.
    """
    # r16: widen_scan A/B-measured a LOSS here (alternating blocks:
    # pmi 1.32 plain vs 1.89 widened; pretrain ~tie) — the distinct /
    # window exchange right after tokenize already spreads the work,
    # so the extra raw-text exchange only adds cost. Left unwidened.
    docs = load_table(spark, sf_dir, "documents")
    corpus = seeded_pii_corpus(docs, keep=("lang",))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ),
        _IP_RE,
        "[IP]",
    )
    # had_pii ⟺ some replacement fired ⟺ redacted differs from the
    # original — one string compare instead of the three extra
    # regexp_extract_all passes the standalone text_pii_redact needs
    # for its per-type counts (the pipeline only reports the boolean).
    normed = (
        corpus.select(
            "doc_id",
            "lang",
            (red != F.col("text")).alias("had_pii"),
            red.alias("red"),
        )
        .select("doc_id", "lang", "had_pii", normalized("red").alias("norm"))
        .withColumn("toks", F.split("norm", " "))
    )
    ttr = F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
    gated = normed.filter(
        (F.size("toks") >= _PIPE_MIN_TOKENS) & (ttr >= _PIPE_MIN_TTR)
    )
    # keep-min-doc_id per norm as ONE window shuffle, not
    # groupBy(min) + join-back: the join form shuffles twice and
    # recomputes the regex-heavy redact subtree on both sides
    # (different exchange keys, so no reuse); per-norm groups are
    # tiny so the window sort is free.
    wdedup = Window.partitionBy("norm").orderBy("doc_id")
    # r15 (guide §2.4): `kept` feeds three consumers (the rate
    # aggregate, its min, and the sampled join) whose keys differ, so
    # only the norm-keyed dedup exchange was reused — the window sort
    # + dedup filter re-ran per consumer. Persisting the narrow
    # (doc_id, lang, had_pii, n_tokens) relation runs it once:
    # in-process A/B 2.3-2.7 s warm → 1.3-1.5 s at sf0.1.
    kept = (
        gated.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "had_pii", F.size("toks").cast("long").alias("n_tokens"))
        .persist()
    )
    rates = kept.groupBy("lang").agg(F.count("*").alias("cnt"))
    mn = rates.agg(F.min("cnt").alias("mn"))
    bucket = (
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
        % F.lit(4294967296)
    ) % _PIPE_MIX_M
    sampled = (
        kept.join(F.broadcast(rates), "lang")
        .crossJoin(F.broadcast(mn))
        .filter(bucket * F.col("cnt") < F.col("mn") * _PIPE_MIX_M)
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sampled.select(
        "lang",
        "had_pii",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum"),
    ).withColumn("pack_id", F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}"))
    return packed.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.max("pack_id") + 1).cast("long").alias("n_packs"),
        F.sum(F.col("had_pii").cast("int")).cast("long").alias("pii_docs"),
    )


# --------------------------------------------------------------------------
# document chunking — fixed token windows with stride/overlap
# --------------------------------------------------------------------------

_CHUNK = 32  # tokens per chunk (a stand-in for a model context slice)
_STRIDE = 24  # window stride => 8-token overlap between neighbors


@register(
    "text_doc_chunking",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
base AS (
  SELECT doc_id, toks,
         1 + CAST(floor((greatest(len(toks) - {_CHUNK}, 0) + {_STRIDE - 1})
                        / {_STRIDE}.0) AS BIGINT) AS n_chunks
  FROM tok
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, i*{_STRIDE} + 1, i*{_STRIDE} + {_CHUNK}))
            AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, i*{_STRIDE} + 1, i*{_STRIDE} + {_CHUNK}),
                       ' ') AS chunk_text
FROM base, UNNEST(range(n_chunks)) AS t(i)
""",
)
def text_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-size token windows ({_CHUNK}
    tokens, stride {_STRIDE} => 8-token overlap) — the
    context-window chunking step of a pre-training/RAG pipeline.
    ceil((n - chunk)/stride) + 1 windows per doc; a doc shorter than
    one chunk yields exactly one (possibly short) chunk, and the last
    window is truncated, never padded.

    Scale: narrow-only — chunk computation is sequence + slice +
    posexplode inside one projection; no shuffle at any corpus size.
    Row expansion is bounded by ~n_tokens/stride per doc. ``toks`` is
    projected to a column FIRST so the per-window ``slice`` lambdas
    reference an attribute, not the split expression (the O(tokens^2)
    re-derivation trap — LESSONS #4/#14).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens().alias("toks")).withColumn(
        "n_chunks",
        (
            F.lit(1)
            + F.floor(
                (F.greatest(F.size("toks") - _CHUNK, F.lit(0)) + (_STRIDE - 1))
                / _STRIDE
            )
        ).cast("int"),
    )
    chunked = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_chunks") - 1),
                lambda i: F.slice("toks", i * _STRIDE + 1, _CHUNK),
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# repetition filter — Gopher-style "most common token" quality rule
# --------------------------------------------------------------------------


@register(
    "text_repetition_filter",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang, len(toks) AS n,
         list_max(list_transform(list_distinct(toks),
                  t -> len(list_filter(toks, x -> x = t)))) AS max_freq
  FROM tok
)
SELECT doc_id, lang,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(max_freq AS BIGINT) AS top_token_freq,
       CAST(floor((CAST(max_freq AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT) / 1e6 AS top_token_ratio,
       CAST(max_freq AS DOUBLE) / n > 0.2 AS is_repetitive
FROM scored
""",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition score: frequency of the single most
    common token and its share of all tokens, flagged repetitive when
    that share exceeds 20% — the Gopher "most common word covers too
    much of the doc" quality rule (boilerplate / keyword-stuffing
    detector).

    Scale: narrow-only, zero shuffle — the per-doc frequency table is
    a higher-order expression over the token array
    (O(distinct x tokens) per row, bounded by document length), NOT an
    explode + groupBy(doc_id, token), which would shuffle every token
    of a 100 TB corpus just to re-group rows that started colocated.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", tokens().alias("toks"))
    n = F.size("toks")
    max_freq = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda t: F.size(F.filter("toks", lambda x: x == t)),
        )
    )
    return base.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_tokens"),
        max_freq.cast("long").alias("top_token_freq"),
        (F.floor((max_freq.cast("double") / n) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("top_token_ratio"),
        (max_freq.cast("double") / n > 0.2).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# corpus-wide line dedup (C4-style boilerplate removal)
# --------------------------------------------------------------------------

# Three boilerplate lines planted across the corpus (doc_id % 3 picks
# one per doc): web-crawl chrome the C4 pipeline strips by global
# line dedup — each survives only in its first containing document.
_SHARED_LINES = [
    "copyright two thousand twenty four all rights reserved",
    "subscribe to our newsletter for the latest updates",
    "click here to accept cookies and continue reading",
]

_LINES_CASE_SQL = (
    "CASE doc_id % 3 "
    + " ".join(
        f"WHEN {i} THEN '{line}'" for i, line in enumerate(_SHARED_LINES)
    )
    + " END"
)

_LINE_CORPUS_SQL = f"""
  SELECT doc_id, text || chr(10) || {_LINES_CASE_SQL} AS text
  FROM documents
"""


@register(
    "text_line_dedup",
    oracle=f"""
WITH corpus AS ({_LINE_CORPUS_SQL}),
split AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus
),
lines AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, ls[CAST(i AS BIGINT) + 1] AS line
  FROM split, UNNEST(range(len(ls))) AS t(i)
),
flagged AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY line
                            ORDER BY doc_id, pos) = 1 AS keep
  FROM lines
)
SELECT doc_id,
       string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos)
         AS clean_text,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
FROM flagged
GROUP BY doc_id
""",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE line deduplication — the C4 recipe: any line that
    occurs more than once across the whole corpus survives only in its
    first containing document (order = (doc_id, position)); every
    other occurrence is dropped and the documents are reassembled
    without them. This is the op that strips web-crawl chrome (cookie
    banners, nav bars, licence footers) which per-document dedup can
    never see, because each individual document looks unique.

    Plan — SKEW-IMMUNE by construction: split → posexplode (narrow),
    then the first-occurrence set comes from ``groupBy(line).min``
    rather than a rank window. A hot line (one banner on every page)
    would pin a window's whole partition to one task, but a min
    aggregate PARTIAL-aggregates map-side — each map task collapses
    its occurrences of the hot line to a single row before the
    shuffle, so the line rendezvous moves O(distinct lines per task),
    not O(occurrences). The keep flag then re-attaches by joining on
    the UNIFORM (doc_id, pos) key (never on the skewed line key), and
    reassembly is one groupBy on doc_id. Three uniform shuffles
    instead of two with a skew cliff.

    The corpus plants three boilerplate lines (doc_id % 3) so every
    scale factor has real cross-document duplicates to strip;
    tests/test_r4_ops.py also runs a synthetic hot-line corpus (one
    line in EVERY doc) through the core.
    """
    docs = load_table(spark, sf_dir, "documents")
    shared = F.element_at(
        F.array(*[F.lit(s) for s in _SHARED_LINES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    corpus = docs.select(
        "doc_id", F.concat_ws("\n", F.col("text"), shared).alias("text")
    )
    return dedup_lines_corpus_wide(corpus)


def dedup_lines_corpus_wide(corpus: DataFrame) -> DataFrame:
    """Core of :func:`text_line_dedup` over any (doc_id, text) frame."""
    lines = corpus.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("pos", "line"),
    ).withColumn("pos", F.col("pos").cast("long"))
    keepers = (
        lines.groupBy("line")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
        .select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.pos").alias("pos"),
            F.lit(True).alias("keep"),
        )
    )
    flagged = lines.join(keepers, ["doc_id", "pos"], "left").withColumn(
        "keep", F.coalesce("keep", F.lit(False))
    )
    kept_arr = F.array_sort(
        F.collect_list(
            F.when(F.col("keep"), F.struct(F.col("pos"), F.col("line")))
        )
    )
    return flagged.groupBy("doc_id").agg(
        # NULL (not '') when every line was dropped — a doc whose full
        # text duplicates an earlier doc loses ALL its lines (observed
        # at sf0.1), and SQL string_agg over zero rows is NULL
        F.when(
            F.size(kept_arr) > 0,
            F.concat_ws("\n", F.transform(kept_arr, lambda x: x.line)),
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("long")
        .alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# BM25 ranking against a fixed query
# ---------------------------------------------------------------------------

_BM25_TERMS = ["hash", "join", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 100
_BM25_TERMS_SQL = "('" + "', '".join(_BM25_TERMS) + "')"

_BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
dl AS (
  SELECT doc_id, len(toks) AS dl FROM docs
),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
  WHERE term IN {_BM25_TERMS_SQL}
  GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT t.doc_id,
         CAST(floor(
           ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
           * (t.tf * ({_BM25_K1} + 1))
           / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
              + {_BM25_B} * l.dl / c.avgdl))
           * 1e6 + 0.5) AS BIGINT) AS score_u
  FROM tf t
  JOIN df d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN corpus c
)
SELECT doc_id,
       CAST(SUM(score_u) AS DOUBLE) / 1e6 AS bm25
FROM scored
GROUP BY doc_id
ORDER BY SUM(score_u) DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@register("text_bm25_rank", oracle=_BM25_ORACLE)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking of every document against a fixed
    keyword query — the lexical-retrieval primitive under corpus
    search and RAG candidate generation (Robertson/Spärck Jones
    weighting, k1=1.2, b=0.75, Lucene's +1 idf smoothing).

    Plan: one explode→filter→groupBy(doc, term) pass computes term
    frequencies — the filter keeps only the |query| terms, so the
    shuffled volume is O(matching tokens), not O(all tokens). Document
    frequencies aggregate that tiny relation again (|query| rows) and
    broadcast back; document lengths ride a |docs|-row join keyed the
    same as the tf relation. The final score is a per-(doc,term)
    expression floor-quantized to integer micro-units and summed
    exactly — ln() of bitwise-identical doubles plus floor beats
    round()'s engine-specific decimal tie-breaking (LESSONS #21).
    Top-k selection is a sort-limit (TakeOrdered, no full sort).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    dl = docs.select("doc_id", F.size("toks").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
                )
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("score_u"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score_u").alias("su"))
        .orderBy(F.col("su").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", (F.col("su").cast("double") / 1e6).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# multinomial naive Bayes trainer (lang classifier model table)
# ---------------------------------------------------------------------------

_NB_TOPK = 20  # top terms published per class

_NB_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest({_TOKENS_SQL}) AS term FROM documents
),
tf AS (
  SELECT lang, term, COUNT(*) AS n FROM toks GROUP BY lang, term
),
lang_tot AS (
  SELECT lang, SUM(n) AS lang_n FROM tf GROUP BY lang
),
vocab AS (
  SELECT COUNT(DISTINCT term) AS v FROM tf
),
doc_n AS (
  SELECT lang, COUNT(*) AS docs FROM documents GROUP BY lang
),
doc_tot AS (
  SELECT SUM(docs) AS total_docs FROM doc_n
),
ranked AS (
  SELECT t.lang, t.term, t.n,
         row_number() OVER (PARTITION BY t.lang
                            ORDER BY t.n DESC, t.term) AS rk,
         lt.lang_n, v.v
  FROM tf t
  JOIN lang_tot lt ON lt.lang = t.lang
  CROSS JOIN vocab v
)
SELECT r.lang, r.term,
       CAST(r.n AS BIGINT) AS n,
       CAST(floor(ln((r.n + 1.0) / (r.lang_n + r.v)) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS log_likelihood,
       CAST(floor(ln(CAST(d.docs AS DOUBLE) / dt.total_docs) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS log_prior
FROM ranked r
JOIN doc_n d ON d.lang = r.lang
CROSS JOIN doc_tot dt
WHERE r.rk <= {_NB_TOPK}
ORDER BY r.lang, r.n DESC, r.term
"""


@register("ml_naive_bayes", oracle=_NB_ORACLE)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes trainer over the labeled corpus
    (class = lang): Laplace-smoothed log P(term | lang) for each
    class's top terms plus the class log-prior — the model table a
    downstream classifier would broadcast.

    Plan: one explode→groupBy(lang, term) pass is the only
    fact-sized work (map-side combined; the key space is vocab ×
    langs); class totals, vocabulary size, and doc priors are tiny
    re-aggregations of that relation joined back by broadcast. The
    top-k cut is a row_number window partitioned by lang over exact
    integer counts with a term tiebreak — fully deterministic — and
    both log terms are floor-quantized micro-units (ln() of
    identical doubles; no round() tie-break exposure).
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    lang_tot = tf.groupBy("lang").agg(F.sum("n").alias("lang_n"))
    vocab = tf.agg(F.countDistinct("term").alias("v"))
    doc_n = docs.groupBy("lang").agg(F.count("*").alias("docs"))
    doc_tot = doc_n.agg(F.sum("docs").alias("total_docs"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    ranked = (
        tf.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NB_TOPK)
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(doc_n), "lang")
        .crossJoin(F.broadcast(doc_tot))
    )
    return ranked.select(
        "lang",
        "term",
        F.col("n").cast("long").alias("n"),
        (
            F.floor(
                F.log((F.col("n") + 1.0) / (F.col("lang_n") + F.col("v"))) * 1e6 + 0.5
            ).cast("long")
            / F.lit(1e6)
        ).alias("log_likelihood"),
        (
            F.floor(
                F.log(F.col("docs").cast("double") / F.col("total_docs")) * 1e6 + 0.5
            ).cast("long")
            / F.lit(1e6)
        ).alias("log_prior"),
    ).orderBy("lang", F.col("n").desc(), "term")


# ---------------------------------------------------------------------------
# PMI co-occurrence over the top vocabulary
# ---------------------------------------------------------------------------

_PMI_VOCAB = 30  # top-df terms considered
_PMI_MIN_PAIR = 5  # pair must co-occur in at least this many docs

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
),
df AS (
  SELECT term, COUNT(*) AS df FROM toks GROUP BY term
),
vocab AS (
  SELECT term, df FROM df
  ORDER BY df DESC, term LIMIT {_PMI_VOCAB}
),
vt AS (
  SELECT t.doc_id, t.term FROM toks t JOIN vocab v USING (term)
),
n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT p.term_a, p.term_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(floor(
         ln(CAST(p.n_ab AS DOUBLE) * n.n_docs / (va.df * vb.df))
         * 1e6 + 0.5) AS BIGINT) / 1e6 AS pmi
FROM pairs p
JOIN vocab va ON va.term = p.term_a
JOIN vocab vb ON vb.term = p.term_b
CROSS JOIN n
WHERE p.n_ab >= {_PMI_MIN_PAIR}
ORDER BY p.term_a, p.term_b
"""


@register("text_pmi_cooccur", oracle=_PMI_ORACLE)
def text_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between top-vocabulary terms
    co-occurring in the same document — the collocation /
    phrase-mining signal (PMI = ln(P(a,b) / P(a)P(b)) over document
    probabilities).

    Plan: candidate pairs come ONLY from the broadcast top-|V| df
    vocabulary (deterministic df-then-term ranking), so the per-doc
    fanout is capped at |V|² regardless of document length, and the
    self-join is an equi-join on doc_id (same-key shuffle both
    sides, exchange reused) — never an all-pairs cross of the term
    space. df and the doc total re-aggregate the same distinct
    (doc, term) relation. PMI is ln() of an exact-integer ratio,
    floor-quantized — deterministic across engines.
    """
    # r16: widen_scan A/B-measured a LOSS here (alternating blocks:
    # pmi 1.32 plain vs 1.89 widened; pretrain ~tie) — the distinct /
    # window exchange right after tokenize already spreads the work,
    # so the extra raw-text exchange only adds cost. Left unwidened.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("term")).distinct()
    df = toks.groupBy("term").agg(F.count("*").alias("df"))
    vocab = df.orderBy(F.col("df").desc(), "term").limit(_PMI_VOCAB)
    vt = toks.join(F.broadcast(vocab.select("term")), "term").select(
        "doc_id", "term"
    )
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    a, b = vt.alias("a"), vt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIR)
    )
    va = F.broadcast(vocab.select(F.col("term").alias("term_a"), F.col("df").alias("dfa")))
    vb = F.broadcast(vocab.select(F.col("term").alias("term_b"), F.col("df").alias("dfb")))
    return (
        pairs.join(va, "term_a")
        .join(vb, "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            (
                F.floor(
                    F.log(
                        F.col("n_ab").cast("double")
                        * F.col("n_docs")
                        / (F.col("dfa") * F.col("dfb"))
                    )
                    * 1e6
                    + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("pmi"),
        )
        .orderBy("term_a", "term_b")
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit over the term frequency distribution
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100  # fit over the top-N ranks

_ZIPF_ORACLE = f"""
WITH tf AS (
  SELECT term, COUNT(*) AS n
  FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents)
  GROUP BY term
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rank
  FROM tf
),
pts AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x_u,
         CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y_u
  FROM ranked WHERE rank <= {_ZIPF_TOP}
),
q AS (
  SELECT x_u, y_u,
         CAST(floor((CAST(x_u AS DOUBLE) / 1e6) * (CAST(y_u AS DOUBLE) / 1e6)
                    * 1e6 + 0.5) AS BIGINT) AS xy_u,
         CAST(floor((CAST(x_u AS DOUBLE) / 1e6) * (CAST(x_u AS DOUBLE) / 1e6)
                    * 1e6 + 0.5) AS BIGINT) AS xx_u,
         CAST(floor((CAST(y_u AS DOUBLE) / 1e6) * (CAST(y_u AS DOUBLE) / 1e6)
                    * 1e6 + 0.5) AS BIGINT) AS yy_u
  FROM pts
),
s AS (
  SELECT COUNT(*) AS n, SUM(x_u) AS sx, SUM(y_u) AS sy,
         SUM(xy_u) AS sxy, SUM(xx_u) AS sxx, SUM(yy_u) AS syy
  FROM q
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(floor(
         (n * (CAST(sxy AS DOUBLE) / 1e6)
          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
         / (n * (CAST(sxx AS DOUBLE) / 1e6)
            - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
         * 1e6 + 0.5) AS BIGINT) / 1e6 AS slope,
       CAST(floor(
         ((CAST(sy AS DOUBLE) / 1e6)
          - (n * (CAST(sxy AS DOUBLE) / 1e6)
             - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
            / (n * (CAST(sxx AS DOUBLE) / 1e6)
               - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
            * (CAST(sx AS DOUBLE) / 1e6)) / n * 1e6 + 0.5) AS BIGINT) / 1e6
           AS intercept,
       CAST(floor(
         (n * (CAST(sxy AS DOUBLE) / 1e6)
          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
         * (n * (CAST(sxy AS DOUBLE) / 1e6)
            - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
         / ((n * (CAST(sxx AS DOUBLE) / 1e6)
             - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
            * (n * (CAST(syy AS DOUBLE) / 1e6)
               - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6)))
         * 1e6 + 0.5) AS BIGINT) / 1e6 AS r2
FROM s
"""


@register("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS of ln(frequency) on ln(rank)
    over the top terms — slope ≈ -1 is the healthy-natural-text
    signature, and drift from it is a synthetic/template-corpus
    smell worth alarming on in a training-data pipeline.

    Plan: one explode→groupBy(term) pass (map-side combined) is the
    fact-sized work; the top-{100} cut is ``orderBy().limit`` —
    TakeOrderedAndProject, each partition keeping its own 100 best —
    so the vocabulary (which grows unboundedly with corpus size)
    never funnels into a single-task global window (this build's
    InferWindowGroupLimit fires only for partitioned windows; pinned
    by tests/test_r8_ops.py). The rank window and the regression run
    over the <=100 survivor rows, bounded by construction. The
    (rank, count) points are exact integers; ln() of them
    floor-quantizes to micro-units, products re-quantize, and the
    closed-form OLS is a double expression over six exact integer
    sums — deterministic across engines end to end.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "term")
    ranked = (
        tf.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(_ZIPF_TOP)
        .select("n", F.row_number().over(w).alias("rank"))
    )
    x_u = F.floor(F.log(F.col("rank").cast("double")) * 1e6 + 0.5).cast("long")
    y_u = F.floor(F.log(F.col("n").cast("double")) * 1e6 + 0.5).cast("long")
    pts = ranked.select(x_u.alias("x_u"), y_u.alias("y_u"))
    x = F.col("x_u").cast("double") / 1e6
    y = F.col("y_u").cast("double") / 1e6
    q = pts.select(
        "x_u",
        "y_u",
        F.floor(x * y * 1e6 + 0.5).cast("long").alias("xy_u"),
        F.floor(x * x * 1e6 + 0.5).cast("long").alias("xx_u"),
        F.floor(y * y * 1e6 + 0.5).cast("long").alias("yy_u"),
    )
    s = q.agg(
        F.count("*").alias("n"),
        F.sum("x_u").alias("sx"),
        F.sum("y_u").alias("sy"),
        F.sum("xy_u").alias("sxy"),
        F.sum("xx_u").alias("sxx"),
        F.sum("yy_u").alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double") / 1e6
    sy = F.col("sy").cast("double") / 1e6
    sxy = F.col("sxy").cast("double") / 1e6
    sxx = F.col("sxx").cast("double") / 1e6
    syy = F.col("syy").cast("double") / 1e6
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    quant = lambda c: F.floor(c * 1e6 + 0.5).cast("long") / F.lit(1e6)  # noqa: E731
    return s.select(
        n.cast("long").alias("n_terms"),
        quant(slope).alias("slope"),
        quant(intercept).alias("intercept"),
        quant(r2).alias("r2"),
    )


# ---------------------------------------------------------------------------
# bigram-LM perplexity (the next rung above text_unigram_logprob)
# ---------------------------------------------------------------------------

_BIGRAM_SQL = (
    f"list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - 1, 0)),"
    f" i -> array_to_string(({_TOKENS_SQL})[i:i+1], ' '))"
)

_BIGRAM_PPL_ORACLE = f"""
WITH big AS (
  SELECT doc_id, unnest({_BIGRAM_SQL}) AS bigram FROM documents
),
split AS (
  SELECT doc_id, bigram,
         string_split(bigram, ' ')[1] AS w1
  FROM big
),
bf AS (SELECT bigram, COUNT(*) AS c12 FROM split GROUP BY bigram),
uf AS (SELECT w1, COUNT(*) AS c1 FROM split GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w1) AS vocab FROM split),
terms AS (
  SELECT s.doc_id,
         CAST(floor(ln((b.c12 + 1.0) / (u.c1 + vv.vocab)) * 1e6 + 0.5)
              AS BIGINT) AS lp_u
  FROM split s
  JOIN bf b USING (bigram)
  JOIN uf u USING (w1)
  CROSS JOIN v vv
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(floor(CAST(-SUM(lp_u) AS DOUBLE) / 1e6 / COUNT(*) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS cross_entropy
FROM terms
GROUP BY doc_id
ORDER BY doc_id
"""


@register("text_bigram_perplexity", oracle=_BIGRAM_PPL_ORACLE)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram language-model cross-entropy (add-one
    smoothed, trained on the corpus itself) — the perplexity filter
    one rung above text_unigram_logprob: word-ORDER anomalies
    (shuffled text, keyword stuffing, wrong-language runs) that
    unigram stats can't see raise the bigram cross-entropy. exp() of
    the score is perplexity; ranking is monotone either way so the
    exp is left to the caller.

    Plan: bigrams come from the shifted-slice zip (same
    O(tokens)-per-row trick as the shingle builder — never a
    positional lambda that re-splits per element); the LM is two
    count aggregates (bigram, then first-word marginal) joined back
    by broadcast at test SF — at 100 TB vocabulary both become
    shuffle equi-joins on the same key, same plan shape. Per-bigram
    ln() terms floor-quantize to integer micro-units and the per-doc
    mean divides two exact integers — order-proof across engines.
    """
    # r16 (guide §2.5): widen the one-row-group fixture scan so the
    # per-row token work runs on every core (no-op on split inputs)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    toks = tokens()
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    big = docs.select("doc_id", F.explode(bigrams).alias("bigram"))
    # r15 (guide §2.4, the basket-affinity persist rationale): FOUR
    # consumers (bigram counts, first-word marginal, vocab, and the
    # scoring join) aggregate on DIFFERENT keys, so exchange reuse
    # never applies and the regex tokenize + bigram explode ran four
    # times. One persist = one tokenization pass.
    split = big.select(
        "doc_id",
        "bigram",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
    ).persist()
    bf = split.groupBy("bigram").agg(F.count("*").alias("c12"))
    uf = split.groupBy("w1").agg(F.count("*").alias("c1"))
    v = split.agg(F.countDistinct("w1").alias("vocab"))
    terms = (
        split.join(F.broadcast(bf), "bigram")
        .join(F.broadcast(uf), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("vocab")))
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("lp_u"),
        )
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (
                F.floor(
                    (-F.sum("lp_u")).cast("double") / 1e6 / F.count("*") * 1e6
                    + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher-style multi-rule quality filter
# ---------------------------------------------------------------------------

# The published Gopher/MassiveText rule family, bounds scaled to the
# fixture corpus (docs are paragraph-sized, not web pages): token
# count, mean token length, alphabetic-token fraction, symbol-token
# fraction, and minimum stopword occurrences. Bounds are scaled so the
# fixture corpus EXERCISES the count/mean-len/stopword rules (Gopher's
# web-page bounds would pass every paragraph-sized fixture doc);
# alpha/symbol rules pass universally on the clean fixture text by
# construction — they fire on real web corpora. Each rule is emitted as
# its own flag (a training pipeline tunes/ablates rules individually);
# `passes_all` is their AND.
_GOPHER_MIN_TOKENS = 20
_GOPHER_MAX_TOKENS = 1000
_GOPHER_MIN_MEAN_LEN = 2.0
_GOPHER_MAX_MEAN_LEN = 4.8
_GOPHER_MIN_ALPHA_FRAC = 0.8
_GOPHER_MAX_SYMBOL_FRAC = 0.1
_GOPHER_MIN_STOPWORDS = 2

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
         len(toks) AS n_tok,
         list_reduce(list_transform(toks, x -> length(x)),
                     (a, b) -> a + b) AS len_sum,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         len(list_filter(toks, x -> contains(x, '#')
                                    OR contains(x, '...'))) AS n_sym,
         len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stop
  FROM t
),
r AS (
  SELECT doc_id, lang,
         CAST(n_tok AS BIGINT) AS n_tokens,
         CAST(floor(CAST(len_sum AS DOUBLE) / n_tok * 1e6 + 0.5) AS BIGINT)
           AS mean_len_micro,
         n_tok BETWEEN {_GOPHER_MIN_TOKENS} AND {_GOPHER_MAX_TOKENS}
           AS ok_count,
         CAST(len_sum AS DOUBLE) / n_tok
           BETWEEN {_GOPHER_MIN_MEAN_LEN} AND {_GOPHER_MAX_MEAN_LEN}
           AS ok_mean_len,
         CAST(n_alpha AS DOUBLE) / n_tok >= {_GOPHER_MIN_ALPHA_FRAC}
           AS ok_alpha,
         CAST(n_sym AS DOUBLE) / n_tok <= {_GOPHER_MAX_SYMBOL_FRAC}
           AS ok_symbol,
         n_stop >= {_GOPHER_MIN_STOPWORDS} AS ok_stopwords
  FROM s
)
SELECT doc_id, lang, n_tokens, mean_len_micro,
       ok_count, ok_mean_len, ok_alpha, ok_symbol, ok_stopwords,
       (ok_count AND ok_mean_len AND ok_alpha AND ok_symbol
        AND ok_stopwords) AS passes_all
FROM r
ORDER BY doc_id
"""


@register("text_quality_gopher", oracle=_GOPHER_ORACLE)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style multi-rule document quality filter:
    token-count bounds, mean-token-length bounds, alphabetic-token
    fraction, symbol-token fraction, and a minimum stopword count —
    each rule emitted as its own flag (pipelines ablate rules
    individually) plus the combined `passes_all` gate.

    Differs from text_analysis_stats' single TTR gate: this is the
    rule-FAMILY form used to filter pretraining corpora, with bounds
    scaled to the fixture's paragraph-sized documents.

    Determinism: ratio comparisons go through IEEE double division on
    exact integers — identical in both engines; mean length is also
    emitted micro-quantized for the hash.

    Scale: narrow-only — every rule is a higher-order function over
    the per-row token array (whole-stage codegen, no UDF, no
    shuffle). At 100 TB this is a pure map over the corpus scan.
    """
    # r16 (guide §2.5): widen the one-row-group fixture scan so the
    # per-row token work runs on every core (no-op on split inputs)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    df = docs.select("doc_id", "lang", tokens().alias("toks"))
    n = F.size("toks")
    len_sum = F.aggregate(
        F.col("toks"), F.lit(0), lambda a, t: a + F.length(t)
    )
    n_alpha = F.size(F.filter("toks", lambda t: t.rlike("[a-z]")))
    n_sym = F.size(
        F.filter(
            "toks",
            lambda t: t.contains("#") | t.contains("..."),
        )
    )
    n_stop = F.size(F.filter("toks", lambda t: t.isin(_STOPWORDS)))
    mean_len = len_sum.cast("double") / n
    ok_count = (n >= _GOPHER_MIN_TOKENS) & (n <= _GOPHER_MAX_TOKENS)
    ok_mean_len = (mean_len >= _GOPHER_MIN_MEAN_LEN) & (
        mean_len <= _GOPHER_MAX_MEAN_LEN
    )
    ok_alpha = n_alpha.cast("double") / n >= _GOPHER_MIN_ALPHA_FRAC
    ok_symbol = n_sym.cast("double") / n <= _GOPHER_MAX_SYMBOL_FRAC
    ok_stop = n_stop >= _GOPHER_MIN_STOPWORDS
    return df.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_tokens"),
        F.floor(mean_len * 1e6 + 0.5).cast("long").alias("mean_len_micro"),
        ok_count.alias("ok_count"),
        ok_mean_len.alias("ok_mean_len"),
        ok_alpha.alias("ok_alpha"),
        ok_symbol.alias("ok_symbol"),
        ok_stop.alias("ok_stopwords"),
        (ok_count & ok_mean_len & ok_alpha & ok_symbol & ok_stop).alias(
            "passes_all"
        ),
    )


# --------------------------------------------------------------------------
# importance resampling toward a target distribution (r11)
# --------------------------------------------------------------------------

_IR_TARGET_LANG = "en"  # proxy target domain: the English slice
_IR_OFFSET = 2_000_000  # micro-nats: score 0 maps to p_keep = 1/2
_IR_CAP = 4_000_000  # weight ceiling (micro-nats span of the ramp)

_IR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
),
tgt_docs AS (SELECT doc_id FROM documents WHERE lang = '{_IR_TARGET_LANG}'),
freq_s AS (SELECT token, COUNT(*) AS cs FROM tok GROUP BY token),
freq_t AS (
  SELECT token, COUNT(*) AS ct FROM tok
  WHERE doc_id IN (SELECT doc_id FROM tgt_docs) GROUP BY token
),
tot AS (
  SELECT (SELECT SUM(cs) FROM freq_s) AS ns,
         (SELECT COALESCE(SUM(ct), 0) FROM freq_t) AS nt,
         (SELECT COUNT(*) FROM freq_s) AS v
),
llr AS (
  SELECT s.token,
         CAST(CAST(floor((ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                           / (tt.nt + tt.v))
                        - ln(CAST(s.cs + 1 AS DOUBLE) / (tt.ns + tt.v)))
                   * 1e12 + 0.5) AS BIGINT) / 1e12
              AS DECIMAL(28, 12)) AS lw
  FROM freq_s s LEFT JOIN freq_t t USING (token) CROSS JOIN tot tt
),
scored AS (
  SELECT k.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(floor((CAST(SUM(l.lw) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5)
              AS BIGINT) AS score_micro
  FROM tok k JOIN llr l USING (token)
  GROUP BY k.doc_id
)
SELECT s.doc_id, d.lang, s.n_tokens,
       CAST(s.score_micro AS BIGINT) / 1e6 AS score,
       ((s.doc_id % 2147483648) * 2654435761) % 4294967296 * {_IR_CAP}
         < least(greatest(s.score_micro + {_IR_OFFSET}, 0), {_IR_CAP})
           * 4294967296 AS kept
FROM scored s JOIN documents d USING (doc_id)
ORDER BY s.doc_id
"""


@register("text_importance_resample", oracle=_IR_ORACLE)
def text_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance resampling (the DSIR recipe — Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much more likely its
    tokens are under a TARGET distribution (here the corpus's
    English slice as the domain proxy; production swaps in the actual
    target corpus) than under the source distribution, then keep docs
    with probability increasing in that log-importance weight. This is
    the stage-zero operator that tilts a 100 TB crawl toward a
    high-quality domain without training a classifier.

    Per-token weight: ln p_tgt(w) - ln p_src(w) with add-one
    smoothing over the SOURCE vocabulary (target tokens are a subset
    of source tokens since the target slice is part of the corpus).
    Each ln term is floor-quantized to DECIMAL(28,12) before the
    per-doc sum (LESSONS #9 summation-order-proofing); the per-doc
    score is the mean over token instances, quantized to micro-nats.
    The keep rule is the engine-portable exact-int64 PPS test of
    sample_weighted_poisson: u·CAP < w·2^32 with w = the score ramped
    linearly onto [0, CAP] (score 0 → keep half; production DSIR
    exponentiates — the ramp is the libm-free form, same dataflow).

    Scale: two vocabulary aggregates (token-keyed, map-side combined),
    one broadcast join of tokens against the weight table (tiny vocab
    here; a 100 TB vocabulary shuffles on token — same plan), one
    doc-keyed re-aggregation, and a map-side keep filter. Nothing is
    per-pair; the whole operator is linear in corpus tokens.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens()).alias("token")
    )
    freq_s = tok.groupBy("token").agg(F.count("*").alias("cs"))
    freq_t = (
        tok.filter(F.col("lang") == _IR_TARGET_LANG)
        .groupBy("token")
        .agg(F.count("*").alias("ct"))
    )
    tot = (
        freq_s.agg(
            F.sum("cs").alias("ns"), F.count("*").alias("v")
        )
        .crossJoin(
            freq_t.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
        )
    )
    llr = (
        freq_s.join(freq_t, "token", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            (
                F.floor(
                    (
                        F.log(
                            (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                            / (F.col("nt") + F.col("v"))
                        )
                        - F.log(
                            (F.col("cs") + 1).cast("double")
                            / (F.col("ns") + F.col("v"))
                        )
                    )
                    * 1e12
                    + 0.5
                ).cast("long")
                / F.lit(1e12)
            )
            .cast("decimal(28,12)")
            .alias("lw"),
        )
    )
    scored = (
        tok.join(F.broadcast(llr), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.floor(
                (F.sum("lw").cast("double") / F.count("*")) * 1e6 + 0.5
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    u = (
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
        % F.lit(4294967296)
    )
    w = F.least(
        F.greatest(F.col("score_micro") + _IR_OFFSET, F.lit(0)),
        F.lit(_IR_CAP),
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            (F.col("score_micro") / F.lit(1e6)).alias("score"),
            (u * _IR_CAP < w * F.lit(4294967296)).alias("kept"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# TextRank keyword extraction (r11)
# --------------------------------------------------------------------------

_TR_MIN_LEN = 4  # vocab: words at least this long
_TR_MIN_COUNT = 5  # ... occurring at least this often corpus-wide
_TR_ROUNDS = 3
_TR_TOP = 25
_TR_SCALE = 1_000_000_000_000  # integer micro-units of rank


def _tr_round_sql(prev: str, rnd: int) -> str:
    return f"""
contrib_{rnd} AS (
  SELECT nb.v AS node, SUM(r.rank_u // nb.d) AS c
  FROM nbrs_d nb JOIN r_{rnd - 1} r ON r.node = nb.u
  GROUP BY nb.v
),
r_{rnd} AS (
  SELECT n.node,
         150000000000 + (85 * COALESCE(c.c, 0)) // 100 AS rank_u
  FROM wnodes n LEFT JOIN contrib_{rnd} c ON c.node = n.node
)"""


_TEXTRANK_ORACLE = (
    f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
vocab AS (
  SELECT token FROM (SELECT unnest(t) AS token FROM tok)
  WHERE length(token) >= {_TR_MIN_LEN}
  GROUP BY token HAVING COUNT(*) >= {_TR_MIN_COUNT}
),
pairs_raw AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> CASE WHEN t[i] < t[i+1] THEN t[i] || ' ' || t[i+1]
                     ELSE t[i+1] || ' ' || t[i] END)) AS pr
  FROM tok
),
edges AS (
  SELECT DISTINCT string_split(pr, ' ')[1] AS u,
                  string_split(pr, ' ')[2] AS v
  FROM pairs_raw
  WHERE string_split(pr, ' ')[1] <> string_split(pr, ' ')[2]
),
vedges AS (
  SELECT e.u, e.v FROM edges e
  JOIN vocab a ON e.u = a.token
  JOIN vocab b ON e.v = b.token
),
nbrs AS (SELECT u, v FROM vedges UNION ALL SELECT v AS u, u AS v FROM vedges),
deg AS (SELECT u AS src, COUNT(*) AS d FROM nbrs GROUP BY u),
nbrs_d AS (SELECT nb.u, nb.v, dg.d FROM nbrs nb JOIN deg dg ON dg.src = nb.u),
wnodes AS (SELECT src AS node FROM deg),
r_0 AS (SELECT node, CAST({_TR_SCALE} AS BIGINT) AS rank_u FROM wnodes)"""
    + "".join("," + _tr_round_sql(f"r_{i}", i + 1) for i in range(_TR_ROUNDS))
    + f"""
SELECT node AS keyword, CAST(rank_u AS BIGINT) AS rank_u,
       CAST(rank_u AS DOUBLE) / {_TR_SCALE} AS score
FROM r_{_TR_ROUNDS}
ORDER BY rank_u DESC, node
LIMIT {_TR_TOP}
"""
)


@register("text_textrank_keywords", oracle=_TEXTRANK_ORACLE)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — adjacent-token pairs, vocab
    floor of length ≥ {_TR_MIN_LEN} and corpus count ≥ {_TR_MIN_COUNT}
    — for {_TR_ROUNDS} synchronized rounds; the top-{_TR_TOP} words by
    stationary weight are the corpus's keywords. The graph-centrality
    upgrade over raw tf-idf (a term matters if it co-occurs with other
    mattering terms), and the classic unsupervised keyworder.

    Exactness is the graph_pagerank_converged machinery verbatim:
    contributions are integer micro-units rank//degree (floor-div in
    both engines), summed exactly as BIGINTs in any order; the oracle
    unrolls the rounds as CTEs. Adjacent pairs build with the
    shifted-slice zip (the _shingles_sqlx lesson — O(n) not O(n²) in
    split evaluations); the per-round plan is one join of the rank
    relation against the persisted pre-partitioned neighbor list + one
    min-exchange partial-agg sum (the LPA relation-reuse idiom).

    Scale: pair volume is linear in corpus tokens; the vocab floor
    bounds the graph to frequent words, so the rank relation is
    vocabulary-sized. At 100 TB the vocab join stays an equi-join on
    token (broadcast while small, shuffle beyond — AQE picks).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(tokens().alias("t"))
    vocab = (
        docs.select(F.explode(tokens()).alias("token"))
        .filter(F.length("token") >= _TR_MIN_LEN)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _TR_MIN_COUNT)
        .select("token")
    )
    m = F.greatest(F.size("t") - 1, F.lit(0))
    pr = F.zip_with(
        F.slice(F.col("t"), 1, m),
        F.slice(F.col("t"), 2, m),
        lambda x, y: F.when(x < y, F.concat_ws(" ", x, y)).otherwise(
            F.concat_ws(" ", y, x)
        ),
    )
    pairs = (
        tok.select(F.explode(pr).alias("pr"))
        .select(
            F.split("pr", " ").getItem(0).alias("u"),
            F.split("pr", " ").getItem(1).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    vedges = pairs.join(
        F.broadcast(vocab.select(F.col("token").alias("u"))), "u"
    ).join(F.broadcast(vocab.select(F.col("token").alias("v"))), "v")
    nbrs = vedges.select("u", "v").unionByName(
        vedges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = nbrs.groupBy("u").agg(F.count("*").alias("d"))
    nbrs_d = (
        nbrs.join(deg, "u")
        .repartition(F.col("u"))
        .persist()
    )
    nodes = deg.select(F.col("u").alias("node")).persist()
    ranks = nodes.select("node", F.lit(_TR_SCALE).cast("long").alias("rank_u"))
    for _ in range(_TR_ROUNDS):
        contrib = (
            ranks.join(nbrs_d, ranks["node"] == nbrs_d["u"])
            .select(
                F.col("v").alias("cnode"),
                F.expr("rank_u div d").alias("q"),
            )
            .groupBy("cnode")
            .agg(F.sum("q").alias("c"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["cnode"], "left"
        ).select(
            "node",
            (
                F.lit(150_000_000_000)
                + F.expr("85 * coalesce(c, 0) div 100")
            ).cast("long").alias("rank_u"),
        )
    return (
        ranks.orderBy(F.desc("rank_u"), F.asc("node"))
        .limit(_TR_TOP)
        .select(
            F.col("node").alias("keyword"),
            "rank_u",
            (F.col("rank_u").cast("double") / _TR_SCALE).alias("score"),
        )
    )


# --------------------------------------------------------------------------
# CCNet-style LM-perplexity bucketing (r11 wave 3)
# --------------------------------------------------------------------------

_CCNET_T = 1.0 / 3.0  # tertile split, exact binary64 in both engines

_CCNET_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
total AS (SELECT SUM(cnt) AS n FROM freq),
terms AS (
  SELECT t.doc_id,
         CAST(CAST(floor((ln(CAST(f.cnt AS DOUBLE) / CAST(tt.n AS DOUBLE))) * 1e12 + 0.5) AS BIGINT) / 1e12
              AS DECIMAL(28, 12)) AS lp
  FROM tok t JOIN freq f USING (token) CROSS JOIN total tt
),
scored AS (
  SELECT doc_id,
         CAST(floor((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS avg_logprob
  FROM terms GROUP BY doc_id
),
cuts AS (
  SELECT CAST(floor(quantile_cont(avg_logprob, {_CCNET_T!r}) * 1e6 + 0.5)
              AS BIGINT) AS t_lo_u,
         CAST(floor(quantile_cont(avg_logprob, {2 * _CCNET_T!r}) * 1e6 + 0.5)
              AS BIGINT) AS t_hi_u
  FROM scored
)
SELECT s.doc_id, d.lang, s.avg_logprob,
       CASE WHEN CAST(floor(s.avg_logprob * 1e6 + 0.5) AS BIGINT) >= c.t_hi_u
              THEN 'head'
            WHEN CAST(floor(s.avg_logprob * 1e6 + 0.5) AS BIGINT) >= c.t_lo_u
              THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s
JOIN documents d USING (doc_id)
CROSS JOIN cuts c
ORDER BY s.doc_id
"""


@register("text_ccnet_buckets", oracle=_CCNET_ORACLE)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every
    document with the unigram-LM mean log-probability (the
    text_unigram_logprob machinery; CCNet uses KenLM — same dataflow)
    and split the corpus into head / middle / tail TERTILES by score.
    Pretraining recipes then mix buckets by quota instead of applying
    a hard filter — this is the operator that materializes the split.

    Determinism: the per-doc score is the quantized decimal fold from
    the unigram op; the tertile thresholds are exact interpolated
    percentiles OVER the quantized scores, themselves floor-quantized
    to micro-units, and bucket membership compares micro-unit
    INTEGERS — no float boundary can flip a doc between engines.

    Scale: the unigram pass (two token-keyed aggregates + a doc
    re-aggregation) dominates and is linear in corpus tokens; the
    threshold aggregate is one 1-row pass over |docs| scores, and the
    bucket assignment is a broadcast of two integers.
    """
    scored = text_unigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    cuts = scored.agg(
        F.floor(F.percentile("avg_logprob", F.lit(_CCNET_T)) * 1e6 + 0.5)
        .cast("long")
        .alias("t_lo_u"),
        F.floor(
            F.percentile("avg_logprob", F.lit(2 * _CCNET_T)) * 1e6 + 0.5
        )
        .cast("long")
        .alias("t_hi_u"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    su = F.floor(F.col("avg_logprob") * 1e6 + 0.5).cast("long")
    return (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(su >= F.col("t_hi_u"), "head")
            .when(su >= F.col("t_lo_u"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# composed corpus-curation mix (r11 capstone): CCNet buckets x soft
# dedup x weighted draw-without-replacement in ONE plan
# --------------------------------------------------------------------------

_MIXK = 300
_MIX_MULT = {"head": 4, "middle": 2, "tail": 1}  # bucket quality quotas

_MIX_MULT_SQL = (
    "CASE bucket WHEN 'head' THEN 4 WHEN 'middle' THEN 2 ELSE 1 END"
)

_CORPUS_MIX_ORACLE = f"""
WITH corpus AS ({{seeded}}),
tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM corpus),
freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
total AS (SELECT SUM(cnt) AS n FROM freq),
terms AS (
  SELECT t.doc_id,
         CAST(CAST(floor((ln(CAST(f.cnt AS DOUBLE) / CAST(tt.n AS DOUBLE))) * 1e12 + 0.5) AS BIGINT) / 1e12
              AS DECIMAL(28, 12)) AS lp
  FROM tok t JOIN freq f USING (token) CROSS JOIN total tt
),
scored AS (
  SELECT doc_id,
         CAST(floor((CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS avg_logprob
  FROM terms GROUP BY doc_id
),
cuts AS (
  SELECT CAST(floor(quantile_cont(avg_logprob, {_CCNET_T!r}) * 1e6 + 0.5)
              AS BIGINT) AS t_lo_u,
         CAST(floor(quantile_cont(avg_logprob, {2 * _CCNET_T!r}) * 1e6 + 0.5)
              AS BIGINT) AS t_hi_u
  FROM scored
),
bucketed AS (
  SELECT s.doc_id,
         CASE WHEN CAST(floor(s.avg_logprob * 1e6 + 0.5) AS BIGINT) >= c.t_hi_u
                THEN 'head'
              WHEN CAST(floor(s.avg_logprob * 1e6 + 0.5) AS BIGINT) >= c.t_lo_u
                THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored s CROSS JOIN cuts c
),
sized AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY sha256({_NORM_SQL})) AS n_copies
  FROM corpus
),
weighted AS (
  SELECT b.doc_id, b.bucket, z.n_copies,
         CAST((1000000 // z.n_copies)
              * ({_MIX_MULT_SQL}) AS BIGINT) AS w
  FROM bucketed b JOIN sized z USING (doc_id)
),
keyed AS (
  SELECT doc_id, bucket, CAST(n_copies AS BIGINT) AS n_copies, w,
         CAST(floor(
           ln((CAST(((doc_id % 2147483648) * 2654435761) % 4294967296
                    AS DOUBLE) + 1) / 4294967296) / w * 1e18 + 0.5
         ) AS BIGINT) AS es_key_a
  FROM weighted
)
SELECT CAST(row_number() OVER (ORDER BY es_key_a DESC, doc_id) AS BIGINT)
         AS sample_rank,
       doc_id, bucket, n_copies, w, es_key_a
FROM (SELECT * FROM keyed ORDER BY es_key_a DESC, doc_id LIMIT {_MIXK})
ORDER BY sample_rank
"""


@register("pipeline_corpus_mix", oracle=None)
def pipeline_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline the r11 additions exist for, in
    one Catalyst plan: CCNet-tertile quality buckets
    (text_ccnet_buckets) × soft-dedup weights from exact-dup clusters
    (sample_dedup_weights) × a quality-quota'd Efraimidis-Spirakis
    draw WITHOUT replacement (sample_weighted_topk) — i.e. "sample
    exactly N documents, preferring fluent text, discounting
    duplicated content, with head/middle/tail quotas via weight
    multipliers {_MIX_MULT}". This is the stage-one corpus-mix job a
    pretraining run schedules.

    Per-doc combined weight = (1e6 // dup_cluster_size) ·
    bucket_multiplier; the draw key ln(u)/w is quantized at 1e-18 (w
    spans 4 decades here, so the finer grain keeps distinct docs from
    colliding) and the top-{_MIXK} is a mergeable
    TakeOrderedAndProject.

    Scale: the unigram scoring pass dominates (linear in corpus
    tokens); the dedup window moves 32-byte hashes on one exchange;
    bucket thresholds broadcast as two integers; the final draw is
    map-side + per-partition top-k. One composed plan, no driver-side
    data dependency.
    """
    from etl_8x8_spark.operators.dedup import seeded_exact_corpus

    corpus = seeded_exact_corpus(
        load_table(spark, sf_dir, "documents")
    ).persist()
    tok = corpus.select("doc_id", F.explode(tokens()).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n"))
    terms = (
        tok.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (
                F.floor(
                    F.log(F.col("cnt").cast("double") / F.col("n").cast("double"))
                    * 1e12
                    + 0.5
                ).cast("long")
                / F.lit(1e12)
            )
            .cast("decimal(28,12)")
            .alias("lp"),
        )
    )
    scored = terms.groupBy("doc_id").agg(
        (
            F.floor((F.sum("lp").cast("double") / F.count("*")) * 1e6 + 0.5)
            .cast("long")
            / F.lit(1e6)
        ).alias("avg_logprob")
    )
    cuts = scored.agg(
        F.floor(F.percentile("avg_logprob", F.lit(_CCNET_T)) * 1e6 + 0.5)
        .cast("long")
        .alias("t_lo_u"),
        F.floor(F.percentile("avg_logprob", F.lit(2 * _CCNET_T)) * 1e6 + 0.5)
        .cast("long")
        .alias("t_hi_u"),
    )
    su = F.floor(F.col("avg_logprob") * 1e6 + 0.5).cast("long")
    bucketed = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        F.when(su >= F.col("t_hi_u"), "head")
        .when(su >= F.col("t_lo_u"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    wsize = Window.partitionBy(F.sha2(normalized(), 256))
    sized = corpus.select(
        "doc_id", F.count("*").over(wsize).alias("n_copies")
    )
    mult = (
        F.when(F.col("bucket") == "head", 4)
        .when(F.col("bucket") == "middle", 2)
        .otherwise(1)
    )
    weighted = bucketed.join(sized, "doc_id").select(
        "doc_id",
        "bucket",
        F.col("n_copies").cast("long").alias("n_copies"),
        (F.expr("1000000 div n_copies") * mult).cast("long").alias("w"),
    )
    h = (
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
        % F.lit(4294967296)
    )
    key_a = F.floor(
        F.log((h.cast("double") + 1) / F.lit(4294967296.0)) / F.col("w") * 1e18
        + 0.5
    ).cast("long")
    top = (
        weighted.withColumn("es_key_a", key_a)
        .orderBy(F.desc("es_key_a"), F.asc("doc_id"))
        .limit(_MIXK)
    )
    wr = Window.orderBy(F.desc("es_key_a"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(wr).cast("long").alias("sample_rank"),
        "doc_id",
        "bucket",
        "n_copies",
        "w",
        "es_key_a",
    ).orderBy("sample_rank")


# the oracle references the seeded-corpus SQL owned by dedup.py; wire
# it in at import time (keeps one definition of the fixture)
def _wire_corpus_mix_oracle() -> None:
    from etl_8x8_spark.operators.dedup import _SEEDED_SQL
    from etl_8x8_spark.registry import _REGISTRY, QuerySpec

    spec = _REGISTRY["pipeline_corpus_mix"]
    _REGISTRY["pipeline_corpus_mix"] = QuerySpec(
        spec.name,
        spec.builder,
        _CORPUS_MIX_ORACLE.format(seeded=_SEEDED_SQL),
        spec.doc,
    )


_wire_corpus_mix_oracle()


# --------------------------------------------------------------------------
# fasttext-style quality-classifier scoring (r12)
# --------------------------------------------------------------------------

# The "shipped model": a K-bucket hashed-feature linear classifier
# (the fastText trick — every token hashes into a weight bucket, the
# document logit is the mean bucket weight). Weights are integer
# MICRO-units in [-0.5, 0.5), derived from a fixed Knuth-multiplicative
# formula so both engines inline the identical literal vector — the
# production analogue ships the trained float array to executors the
# same way (a plan literal / broadcast, never a per-row lookup
# service).
_QC_K = 64
_QC_W_MICRO = [
    ((b + 1) * 2_654_435_761) % 1_000_001 - 500_000 for b in range(_QC_K)
]
_QC_W_SQL = "[" + ", ".join(str(w) for w in _QC_W_MICRO) + "]"


def _qc_logit_sqlx(toks: str) -> str:
    """The hashed model's exact BIGINT weight sum z over the token
    array ``toks``: each token's char-fold hash t picks the weight in
    bucket (t·_PH_B_MUL mod _PH_B_MOD) mod _QC_K. The document logit
    is z / n_tokens, and z > 0 keeps the document."""
    w_arr = "array(" + ", ".join(f"{w}L" for w in _QC_W_MICRO) + ")"
    return (
        f"aggregate({_token_hashes_sqlx(toks)}, CAST(0 AS BIGINT),"
        f" (acc, t) -> acc + element_at({w_arr},"
        f" CAST((t * {_PH_B_MUL}) % {_PH_B_MOD} % {_QC_K} AS INT) + 1))"
    )


_QCLS_ORACLE = f"""
WITH th AS (
  SELECT doc_id, lang,
         {_token_hashes_sql(_TOKENS_SQL)} AS th
  FROM documents
),
s AS (
  SELECT doc_id, lang, len(th) AS n,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(th, t ->
               CAST({_QC_W_SQL}[
                 CAST((t * {_PH_B_MUL}) % {_PH_B_MOD} % {_QC_K} AS INT) + 1
               ] AS BIGINT))),
           (acc, v) -> acc + v) AS z
  FROM th
)
SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
       CAST(floor(CAST(z AS DOUBLE) / n + 0.5) AS BIGINT) / 1e6 AS logit,
       CAST(floor(1e6 / (1 + exp(-(CAST(z AS DOUBLE) / n) / 1e6)) + 0.5)
            AS BIGINT) / 1e6 AS prob,
       z > 0 AS keep
FROM s
ORDER BY doc_id
"""


@register("text_quality_classifier", oracle=_QCLS_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality-classifier SCORING — the standard
    curation stage that gates pretraining corpora on a trained linear
    model (CCNet/LLaMA-style "looks like Wikipedia" filters): every
    token hashes into one of 64 weight buckets, the document logit is
    the mean bucket weight, and the keep decision is the logit's sign.
    The weight vector here is a fixed deterministic stand-in for the
    trained model (the reference's jwt_verify takes the same
    deterministic-stand-in approach to a shipped secret,
    src/handlers.py:35-47); the Spark-side plumbing — model as a plan
    literal on every executor, zero per-row I/O — is the production
    shape.

    Parity: token hashes are the portable char-fold (dedup.py's
    minhash components); bucket weights are integer micro-units, so
    the per-doc weight SUM is exact in both engines; the logit is one
    double division of exact integers (IEEE-identical) and only the
    reported sigmoid goes through exp (micro-quantized, the ln
    precedent from agg_mutual_information). The keep flag compares the
    exact integer sum — no float at all.

    Scale: ZERO shuffles — tokenize, hash, weight-sum, score are all
    narrow higher-order functions inside one codegen'd projection; at
    100 TB this runs at corpus-scan speed next to the other map-side
    quality gates (gopher/ccnet), and the same plan shape holds for a
    real model by swapping the literal for a broadcast array.
    """
    # r16 (guide §2.5): widen the one-row-group fixture scan so the
    # per-row token work runs on every core (no-op on split inputs)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        "lang",
        # count the raw split, not the hashed transform — size(th)
        # would re-derive every per-token char fold just to count
        F.size(tokens()).alias("n"),
        F.expr(_qc_logit_sqlx(_TOKENS_SQLX)).alias("z"),
    )
    avg_micro = F.col("z").cast("double") / F.col("n")
    return base.select(
        "doc_id",
        "lang",
        F.col("n").cast("long").alias("n_tokens"),
        (F.floor(avg_micro + 0.5).cast("long") / F.lit(1e6)).alias("logit"),
        (
            F.floor(
                F.lit(1e6) / (F.lit(1.0) + F.exp(-avg_micro / F.lit(1e6)))
                + 0.5
            ).cast("long")
            / F.lit(1e6)
        ).alias("prob"),
        (F.col("z") > 0).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# tokenizer-aware token counting: BPE merge application (r12)
# --------------------------------------------------------------------------

# The "shipped tokenizer": a rank-ordered BPE merge table (the
# tiktoken/sentencepiece artifact in miniature). Rules apply in rank
# order, each merging all its left-to-right non-overlapping adjacent
# occurrences before the next rule — lower-rank outputs feed
# higher-rank rules (th+e, in+g, an+d), exactly the cascading shape of
# a real merge list.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"),
    ("a", "n"), ("o", "n"), ("r", "e"), ("a", "t"),
    ("e", "n"), ("o", "r"), ("e", "s"), ("s", "t"),
    ("a", "r"), ("o", "u"), ("in", "g"), ("an", "d"),
]

# The merge symbols are embedded UNESCAPED in single-quoted SQL
# string literals (both engines) — pin the safe charset so a future
# rule containing a quote/backslash fails loudly at import instead of
# silently changing the generated query (r16 ADVICE item 4).
assert all(
    (a + b).isalnum() for a, b in _BPE_MERGES
), "BPE merge symbols must stay alphanumeric (embedded in SQL literals)"


def bpe_symbols(word):
    """Apply every merge rule in rank order to a word column and
    return the resulting symbol array (pure built-in fold — no UDF).
    Each rule folds left-to-right, merging non-overlapping adjacent
    (a, b) occurrences; the merged symbol differs from its parts, so a
    rule never re-fires on its own output within a pass.

    r15 (guide §4.4): ``word`` is a SQL expression string and the 16
    chained rule folds are assembled as ONE expression string — the
    lambda-per-rule Column form cost ~0.75 s of py4j per build for
    the identical tree."""
    syms = f"split({word}, '')"
    for a, b in _BPE_MERGES:
        syms = (
            f"aggregate({syms}, CAST(array() AS ARRAY<STRING>),"
            " (acc, s) -> CASE WHEN size(acc) > 0"
            f" AND try_element_at(acc, -1) = '{a}' AND s = '{b}'"
            f" THEN concat(slice(acc, 1, size(acc) - 1), array('{a}{b}'))"
            " ELSE concat(acc, array(s)) END)"
        )
    return F.expr(syms)


def _bpe_fold_sql(prev: str, a: str, b: str) -> str:
    """One merge rule as a DuckDB list fold: symbols are VARCHAR lists;
    the accumulator and the elements are both lists so list_reduce
    types unify (the _token_hashes_sql prepend-the-init idiom)."""
    return (
        f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
        f"list_transform({prev}, s -> [s])), "
        f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '{a}' "
        f"AND x[1] = '{b}' "
        f"THEN list_append(acc[:len(acc)-1], '{a}{b}') "
        f"ELSE list_append(acc, x[1]) END)"
    )


def _bpe_vocab_sql() -> str:
    """CTE chain applying every merge rule to the distinct vocabulary."""
    ctes = [
        "tok AS (SELECT doc_id, lang, unnest("
        + _TOKENS_SQL
        + ") AS w FROM documents)",
        "vp0 AS (SELECT w, string_split(w, '') AS s FROM "
        "(SELECT DISTINCT w FROM tok WHERE len(w) > 0))",
    ]
    for i, (a, b) in enumerate(_BPE_MERGES):
        ctes.append(
            f"vp{i + 1} AS (SELECT w, {_bpe_fold_sql('s', a, b)} AS s "
            f"FROM vp{i})"
        )
    ctes.append(
        f"vp AS (SELECT w, len(s) AS n_pieces, len(w) AS wl "
        f"FROM vp{len(_BPE_MERGES)})"
    )
    return ",\n".join(ctes)


_BPE_ORACLE = f"""
WITH {_bpe_vocab_sql()}
SELECT t.doc_id, t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(v.n_pieces) AS BIGINT) AS n_bpe_tokens,
       CAST(floor(CAST(SUM(v.wl) AS DOUBLE) / SUM(v.n_pieces) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS chars_per_token
FROM tok t JOIN vp v USING (w)
GROUP BY t.doc_id, t.lang
ORDER BY t.doc_id
"""


@register("text_bpe_token_count", oracle=_BPE_ORACLE)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware token counting: apply a rank-ordered BPE merge
    table and count the resulting PIECES per document — the number a
    training-data budget actually bills against (whitespace counts
    under-bill long words and over-bill function words;
    text_token_budget_pack's budgets assume this counter's output).

    Scale design — BPE cost is VOCABULARY-sized, never corpus-sized:
    the merge fold (16 rules × per-word symbol list) runs once per
    DISTINCT word (Zipf: vocab ≪ corpus tokens), and the per-word
    piece count joins back to the exploded corpus (AQE broadcasts
    while the piece table fits, shuffle-joins beyond), which then
    re-aggregates per doc. Two shuffles total (vocab distinct + the
    doc re-agg) at any realistic vocab, regardless of corpus size;
    a real 100k-merge tokenizer swaps the literal rule chain for a
    ``mapInPandas`` over the SAME vocab-sized relation — the plan
    shape (dedup → compute → broadcast back) is the part that
    matters at 100 TB.

    Parity: the fold is pure list/string manipulation (no floats);
    both engines apply identical left-to-right non-overlapping merges
    per rank (the merged symbol differs from its parts, so a rule
    never re-fires on its own output within a pass). chars_per_token
    is one double division of exact integers, micro-quantized.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens()).alias("w")
    )
    vocab = tok.select("w").filter(F.length("w") > 0).distinct()
    vp = vocab.select(
        "w",
        bpe_symbols("w").alias("syms"),
        F.length("w").alias("wl"),
    ).select("w", F.size("syms").alias("n_pieces"), "wl")
    return (
        # not a forced broadcast: AQE broadcasts while the piece table
        # fits (any realistic merge-table vocab) and degrades to a
        # shuffle join on w beyond — a web-scale typo/URL vocabulary
        # must not pin the driver
        tok.join(vp, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
            (
                F.floor(
                    F.sum("wl").cast("double")
                    / F.sum("n_pieces")
                    * 1e6
                    + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# composed curation capstone: the quality-gate funnel (r12)
# --------------------------------------------------------------------------

# funnel thresholds — integer cross-multiplied so every gate is exact
_QG_MIN_TOK = 16
_QG_MAX_TOK = 94
_QG_WL_LO = 427  # mean word length lower bound, in hundredths
_QG_WL_HI = 475  # upper bound

_QGATE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
m AS (
  SELECT doc_id, lang,
         len(toks) AS n_tok,
         list_reduce(list_prepend(0, list_transform(toks, x -> len(x))),
                     (a, b) -> a + b) AS n_chars,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform({_token_hashes_sql("toks")}, t ->
               CAST({_QC_W_SQL}[
                 CAST((t * {_PH_B_MUL}) % {_PH_B_MOD} % {_QC_K} AS INT) + 1
               ] AS BIGINT))),
           (acc, v) -> acc + v) AS z
  FROM t
),
v AS (
  SELECT lang, n_tok,
         CASE
           WHEN n_tok < {_QG_MIN_TOK} THEN 'too_short'
           WHEN n_tok > {_QG_MAX_TOK} THEN 'too_long'
           WHEN 100 * n_chars < {_QG_WL_LO} * n_tok
             OR 100 * n_chars > {_QG_WL_HI} * n_tok THEN 'word_length'
           WHEN z <= 0 THEN 'classifier'
           ELSE 'keep'
         END AS verdict
  FROM m
)
SELECT lang, verdict,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM v
GROUP BY lang, verdict
ORDER BY lang, verdict
"""


@register("pipeline_quality_gate", oracle=_QGATE_ORACLE)
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation capstone #2 — the QUALITY FUNNEL: every doc
    falls at its FIRST failing gate (too_short → too_long →
    word_length → classifier) or survives as 'keep', and the report
    is per (lang, verdict) doc/token attrition — the table a corpus
    owner reads to see WHERE the pipeline loses data before touching
    any threshold. Composes the registered gates in their production
    order: structural Gopher-style bounds first (cheap, integer),
    the hashed-model classifier (text_quality_classifier's exact
    integer logit) only on structurally sound docs.

    Exactness: every gate is integer arithmetic — token/char counts,
    cross-multiplied mean-word-length bounds (100·chars vs 427·tok:
    no division anywhere), and the classifier's exact BIGINT weight
    sum. The CASE ladder makes the funnel attribution deterministic.

    Scale: ZERO joins — tokenize, measure, gate, and attribute fuse
    into one codegen'd projection over the corpus scan; the only
    exchange is the final (lang × verdict ≤ dozens of rows) report
    aggregate. Adding a gate to the funnel adds a WHEN branch, not a
    pass.
    """
    # r16 (guide §2.5): widen the one-row-group fixture scan so the
    # per-row token work runs on every core (no-op on split inputs)
    docs = widen_scan(load_table(spark, sf_dir, "documents"))
    toks = tokens()
    n_chars = F.aggregate(
        toks, F.lit(0), lambda a, x: a + F.length(x)
    )
    m = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        n_chars.alias("n_chars"),
        F.expr(_qc_logit_sqlx(_TOKENS_SQLX)).alias("z"),
    )
    verdict = (
        F.when(F.col("n_tok") < _QG_MIN_TOK, "too_short")
        .when(F.col("n_tok") > _QG_MAX_TOK, "too_long")
        .when(
            (100 * F.col("n_chars") < _QG_WL_LO * F.col("n_tok"))
            | (100 * F.col("n_chars") > _QG_WL_HI * F.col("n_tok")),
            "word_length",
        )
        .when(F.col("z") <= 0, "classifier")
        .otherwise("keep")
    )
    return (
        m.select("lang", "n_tok", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("lang", "verdict")
    )
