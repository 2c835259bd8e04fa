"""Source connectors.

Parquet is the primary columnar source: Catalyst pushes predicates and
projections into the scan (row-group skipping + column pruning), so
query builders just ``load_table(...).select(...).filter(...)`` and let
the optimizer move the work into the reader.

Files that do not change have one schema per session: ``load_table``
(the sf tables) and every builder's read of a ``derived`` fixture go
through ``read_parquet``, which infers a footer schema once per
session and file version and passes it back afterwards.

CSV / JSON-lines readers always take an explicit schema (never
``inferSchema`` — a full extra pass over 100 TB) mirroring the
reference's boundary validation (R14, SURVEY.md §1.3).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import inspect
import os
import shutil
import stat
import types
import uuid
import weakref
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_8x8_spark.sources.schemas import TABLE_SCHEMAS

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

#: the confs every engine query depends on (see pin_session_confs)
_PINNED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parser.escapedStringLiterals": "false",
}

#: unpinned confs that shape the schema Spark infers from a footer
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: session -> {(paths, file versions, mergeSchema, inference confs):
#: inferred StructType}
_FOOTER_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def pin_session_confs(spark: SparkSession) -> None:
    """Pin the session confs every engine query depends on.

    This is the ONE sanctioned place the engine mutates the (possibly
    driver-supplied) session, and the mutation is deliberately
    persistent rather than save/restored: Spark evaluates these confs
    lazily (``nanosAsLong`` at parquet schema conversion, the timezone
    at expression execution), so restoring them before the caller runs
    its action would silently change semantics mid-plan.

    - ``spark.sql.session.timeZone=UTC``: the testdata timestamps are
      UTC wall-clock and DuckDB compares naive-UTC; every
      timestamp-rendering/parsing expression must agree.
    - ``spark.sql.legacy.parquet.nanosAsLong=true``: ``events.ts`` is
      physically TIMESTAMP(NANOS), which Spark's reader otherwise
      rejects; it is read as nanos-since-epoch and floor-converted to
      micros (the same truncation DuckDB 1.x applies on read).
    - ``spark.sql.parser.escapedStringLiterals=false`` (r16 ADVICE):
      the engine builds its shared expressions as Spark SQL text, and
      some of it still encodes backslash escapes (the BPE merge
      literals in text.py) that unescape correctly only under the
      default parser; a driver-supplied session with the legacy conf
      set would silently flip them to literal-backslash matches and
      diverge from the oracle. The normalize/token text
      (dedup._NORM_SQLX) holds no escape and gives the same result
      under both values, pinned or not.

    Each conf is set only when its effective value differs. Setting
    the deprecated ``escapedStringLiterals`` logs a WARN, and once it
    is set explicitly (even to its default) every session clone Spark
    makes (caching, streaming) logs it again.
    """
    for key, value in _PINNED_CONFS.items():
        if spark.conf.get(key) != value:
            spark.conf.set(key, value)


def _file_version(path: str) -> tuple:
    """What changes whenever a table's bytes do: inode, size and
    ``mtime_ns`` of a single-file table; name, size and ``mtime_ns`` of
    every file under a directory table (a Spark overwrite replaces the
    part files, which the directory's own stat would not show)."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for root, _, names in os.walk(path, followlinks=True):
        for name in names:
            f = os.path.join(root, name)
            fst = os.stat(f)
            files.append((os.path.relpath(f, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(
    spark: SparkSession, *paths: str, merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet(*paths)`` for files that do not change:
    the engine's tables and the ``derived`` fixtures.

    Inference runs a Spark job, so it runs once per session, path list,
    file versions (``_file_version``) and ``mergeSchema`` flag; later
    calls read with the exact StructType inferred then, so they run
    none, and a rewritten file is inferred again. The memo is per
    session, and keyed on the inference confs, because session confs
    (``nanosAsLong``, ``inferTimestampNTZ``) shape the inferred types.
    Files a build rewrites every time would only add memo entries:
    they are read with ``spark.read`` (or with a schema the builder
    already holds)."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    try:
        versions = tuple(_file_version(p) for p in paths)
    except OSError:  # missing or not local: Spark resolves (and reports) it
        return reader.parquet(*paths)
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    key = (paths, versions, merge_schema, confs)
    memo = _FOOTER_SCHEMAS.setdefault(spark, {})
    if key in memo:
        return spark.read.schema(memo[key]).parquet(*paths)
    df = reader.parquet(*paths)
    memo[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one engine table.

    The parquet footer is authoritative: the schema is whatever Spark
    infers from it, never TABLE_SCHEMAS (forcing that would disable
    vectorized-reader schema evolution; it serves the schemaless
    formats and test validation). It is read through
    ``read_parquet``, so a session infers it once per file version.
    """
    pin_session_confs(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) parquet surfaces as nanos-since-epoch
            # under the legacy conf; floor-divide to micros via pmod
            # (integer `div` would truncate toward zero and round
            # pre-1970 timestamps UP by 1 µs, diverging from DuckDB's
            # TIMESTAMP_NS downcast; a double floor() would lose
            # precision above 2^53). Micros-native files pass through.
            micros = F.expr("(ts - pmod(ts, 1000)) div 1000")
            df = df.withColumn("ts", F.timestamp_micros(micros))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Micros-native parquet with no isAdjustedToUTC flag reads
            # as TIMESTAMP_NTZ, which time arithmetic (unix_micros,
            # window(), watermarks) rejects. Under the pinned UTC
            # session zone the LTZ cast is value-identical to DuckDB's
            # naive reading, so oracles keep hash-matching.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return df


def _first_exchange(plan) -> str | None:
    """Name of the first exchange node in a physical plan, or None.

    Walks children and inner children (a cached relation's plan,
    subquery plans) and the initial plan of an adaptive plan, which
    has neither."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Exchange" in name:
            return name
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return None


def widen_to(df: DataFrame, target: int) -> DataFrame:
    """Round-robin ``df`` to ``target`` partitions when it has fewer;
    otherwise return ``df`` itself.

    The partition count is read while the query is built
    (``df.rdd.getNumPartitions()``), and on a plan with an exchange
    that runs the exchange's jobs. So the input must be scan-shaped:
    a plan with an exchange node raises ``ValueError`` naming the node,
    before any RDD is built. A target of 1 or less reads no partition
    count at all. AQE never coalesces an explicit ``repartition(n)``,
    so the width survives adaptive re-planning.
    """
    exchange = _first_exchange(df._jdf.queryExecution().executedPlan())
    if exchange is not None:
        raise ValueError(
            f"widening needs a scan-shaped input; its plan has an "
            f"exchange node: {exchange}"
        )
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def widen_scan(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the session's cores when the input
    has fewer partitions than the cluster has slots (guide §2.5
    "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    The sf fixtures are one parquet row group each, so a scan is ONE
    task; an operator whose per-row compute dominates (tokenize +
    shingle folds, JVM array math over shingle sets) then runs
    single-threaded however many cores the session has. The
    repartition is CONDITIONAL: at real scale the input already
    carries >= slots partitions and this is a no-op — no extra
    exchange is ever added to a properly-split input. Only callers
    whose downstream is key-based (distinct/groupBy/join/window per
    key) may use it: a round-robin repartition changes row order.
    The input must be scan-shaped (see ``widen_to``).
    """
    return widen_to(df, df.sparkSession.sparkContext.defaultParallelism)


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Schema-on-read JSON-lines ingest (generalizes R3
    ``requires_json_payload``, reference ``api_gateway.py:126-137``).

    PERMISSIVE mode with a corrupt-record column = the reference's
    malformed-JSON -> 415 routing: bad rows land in ``_corrupt_record``
    instead of failing the job.
    """
    # StructType.add MUTATES self (and returns it): calling this twice
    # on a shared schema object would append a duplicate column and
    # fail the second read in the same session. Build a fresh copy.
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def scratch_dir() -> str:
    """Writable scratch area for sink round-trips and derived files."""
    d = os.environ.get(
        "SPARK_GRAFT_SCRATCH", os.path.join(_REPO_ROOT, ".scratch")
    )
    os.makedirs(d, exist_ok=True)
    return d


def _sf_tag(sf_dir: str) -> str:
    """The sf directory's name: keys per-sf scratch dirs."""
    return os.path.basename(sf_dir.rstrip("/")) or "sf"


@functools.cache
def _source_digest(code: types.CodeType) -> str:
    """Digest of a writer's source text (``getsource`` costs ms)."""
    return hashlib.sha1(inspect.getsource(code).encode()).hexdigest()


def derived(
    sf_dir: str, name: str, sources: Iterable[str], write: Callable[[str], None]
) -> str:
    """The one build-once idiom for files derived from an sf dir's
    tables: ``scratch_dir()/<name>_<sf tag>_<key>``, where the key
    digests each source table's ``(st_mtime_ns, st_size)`` and the
    source text of ``write``. A miss has ``write`` fill an empty
    ``.tmp-<uuid>`` sibling that ``os.rename`` publishes: a rename onto
    a non-empty dir fails, so a racing loser uses the winner's dir.
    A publish prunes the siblings of another key, and the tmp dirs of
    failed or crashed writers. Paths inside must be relative to it."""
    h = hashlib.sha1(_source_digest(write.__code__).encode())
    for table in sources:
        st = os.stat(table_path(sf_dir, table))
        h.update(f"{table}:{st.st_mtime_ns}:{st.st_size};".encode())
    prefix = os.path.join(scratch_dir(), f"{name}_{_sf_tag(sf_dir)}_")
    final = prefix + h.hexdigest()[:16]
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    write(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # lost the race: the winner's dir stands
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
        return final
    for path in glob.glob(glob.escape(prefix) + "[0-9a-f]" * 16 + "*"):
        if path != final:
            shutil.rmtree(path, ignore_errors=True)
    return final
