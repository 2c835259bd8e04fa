"""Reference-derived record operators (SURVEY.md §2b, R1-R9 + R12).

These generalize the reference's record-level behaviors — extraction,
validation, conditional transform, JSON parse/serialize, error routing,
token/ARN handling — from one-dict-per-invocation to set-oriented
DataFrame pipelines over the ``events`` table. Every operator is a pure
built-in expression (whole-stage codegen'd, zero Python in the row
path) except ``jwt_verify``'s HMAC, which is the engine's one mandated
``pandas_udf`` (see :mod:`etl_8x8_spark.functions.udfs`).

The event-shaped inputs (querystring ``person``, JSON ``body``,
``authorizationToken``, ``methodArn``) don't exist in the testdata, so
each builder synthesizes them deterministically from ``events`` columns
with arithmetic both engines compute identically; the DuckDB oracles
inline the same derivations. At 100 TB every operator here is a
narrow-only projection/filter: no shuffle, no UDF (save one), fully
pushdown-friendly.

Reference citations (``/root/reference/...``):
- R1 qs_extract / filter_required: ``common/aws_utils/api_gateway.py:18-60``
- R2 greeting/numeric-reject:       ``src/handlers.py:67-88``
- R3 json_body_parse:               ``common/aws_utils/api_gateway.py:126-137``
- R4 json_serialize:                ``common/aws_utils/api_gateway.py:63-96``
- R5 error_route:                   ``common/aws_utils/api_gateway.py:99-123``
                                    + ``common/exceptions.py:1-32``
- R6 bearer_extract:                ``src/handlers.py:32``
- R7 jwt_verify:                    ``src/handlers.py:35-47``
- R8 arn_parse:                     ``src/handlers.py:49-50``
- R9 policy_build:                  ``src/handlers.py:51-64``
- R12 env_derive:                   ``common/aws_utils/ssm.py:10-43``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_8x8_spark.functions.udfs import (
    jwt_build_token,
    jwt_verify_token,
    widen_for_python,
)
from etl_8x8_spark.registry import register
from etl_8x8_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Deterministic event-shape synthesis (shared by builders and oracles)
# ---------------------------------------------------------------------------

# person: 1/5 absent (NULL), 1/5 numeric (rejected by R2), 3/5 names.
_PERSON_SQL = """CASE CAST(user_id % 5 AS INT)
    WHEN 0 THEN NULL
    WHEN 1 THEN CAST(user_id AS VARCHAR)
    ELSE 'user_' || CAST(user_id AS VARCHAR) END"""

# body: 1/7 truncated (malformed JSON -> the reference's 415 path).
_BODY_SQL = """CASE WHEN event_id % 7 = 0
    THEN substr(props, 1, 3) ELSE props END"""

# authorizationToken: 1/9 malformed scheme (regex no-match).
_AUTH_SQL = """CASE WHEN user_id % 9 = 0
    THEN 'Token ' || CAST(user_id AS VARCHAR)
    ELSE 'Bearer tok_' || CAST(user_id AS VARCHAR) END"""

_ARN_SQL = (
    "'arn:aws:execute-api:us-east-' || CAST(user_id % 3 AS VARCHAR)"
    " || ':' || CAST(user_id * 37 AS VARCHAR)"
    " || ':api' || CAST(user_id % 10 AS VARCHAR)"
    " || '/' || (CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'sandbox' END)"
    " || '/GET/greeting'"
)


def _person() -> F.Column:
    m = (F.col("user_id") % 5).cast("int")
    uid = F.col("user_id").cast("string")
    return (
        F.when(m == 0, F.lit(None).cast("string"))
        .when(m == 1, uid)
        .otherwise(F.concat(F.lit("user_"), uid))
    )


def _body() -> F.Column:
    return F.when(
        F.col("event_id") % 7 == 0, F.substring("props", 1, 3)
    ).otherwise(F.col("props"))


def _auth() -> F.Column:
    uid = F.col("user_id").cast("string")
    return F.when(
        F.col("user_id") % 9 == 0, F.concat(F.lit("Token "), uid)
    ).otherwise(F.concat(F.lit("Bearer tok_"), uid))


def _method_arn() -> F.Column:
    uid = F.col("user_id")
    return F.concat(
        F.lit("arn:aws:execute-api:us-east-"),
        (uid % 3).cast("string"),
        F.lit(":"),
        (uid * 37).cast("string"),
        F.lit(":api"),
        (uid % 10).cast("string"),
        F.lit("/"),
        F.when(uid % 2 == 0, F.lit("prod")).otherwise(F.lit("sandbox")),
        F.lit("/GET/greeting"),
    )


# ---------------------------------------------------------------------------
# R1 — querystring extraction with default
# ---------------------------------------------------------------------------


@register(
    "qs_extract",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_raw,
       COALESCE(json_extract_string(props, '$.k'), '0') AS k_or_default
FROM events
""",
)
def qs_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed field extraction with a default (R1,
    ``api_gateway.py:18-60``): the event's ``props`` JSON plays the
    querystring map; absent key -> ``default`` via ``coalesce``."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.alias("k_raw"),
        F.coalesce(k, F.lit("0")).alias("k_or_default"),
    )


# ---------------------------------------------------------------------------
# R1 required=True — null gate -> error row
# ---------------------------------------------------------------------------


@register(
    "filter_required",
    oracle=f"""
SELECT event_id,
       person,
       CASE WHEN person IS NULL THEN 400 ELSE 200 END AS status,
       CASE WHEN person IS NULL
            THEN 'Missing required querystring parameter: person' END AS error
FROM (SELECT event_id, {_PERSON_SQL} AS person FROM events)
""",
)
def filter_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required-field gate (R1 ``required=True``): a missing parameter
    becomes a 400 error row instead of a raised
    ``QuerystringParameterError`` (``api_gateway.py:52-58``)."""
    events = load_table(spark, sf_dir, "events").withColumn("person", _person())
    missing = F.col("person").isNull()
    return events.select(
        "event_id",
        "person",
        F.when(missing, 400).otherwise(200).alias("status"),
        F.when(
            missing, F.lit("Missing required querystring parameter: person")
        ).alias("error"),
    )


# ---------------------------------------------------------------------------
# R2 — numeric reject + greeting transform
# ---------------------------------------------------------------------------


@register(
    "validate_numeric_reject",
    oracle=f"""
SELECT event_id,
       person,
       CASE WHEN person IS NOT NULL AND regexp_matches(person, '^[0-9]+$')
            THEN 400 ELSE 200 END AS status,
       CASE WHEN person IS NOT NULL AND regexp_matches(person, '^[0-9]+$')
            THEN 'A number cannot be greeted' END AS error
FROM (SELECT event_id, {_PERSON_SQL} AS person FROM events)
""",
)
def validate_numeric_reject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate routing (R2, ``src/handlers.py:82-83``):
    ``person.isnumeric()`` -> 400 'A number cannot be greeted'."""
    events = load_table(spark, sf_dir, "events").withColumn("person", _person())
    numeric = F.col("person").isNotNull() & F.col("person").rlike(r"^[0-9]+$")
    return events.select(
        "event_id",
        "person",
        F.when(numeric, 400).otherwise(200).alias("status"),
        F.when(numeric, F.lit("A number cannot be greeted")).alias("error"),
    )


@register(
    "greeting_transform",
    oracle=f"""
SELECT event_id,
       CASE WHEN person IS NULL THEN 'Hello!'
            WHEN regexp_matches(person, '^[0-9]+$') THEN NULL
            ELSE 'Hello, ' || person || '!' END AS phrase,
       CASE WHEN person IS NULL THEN FALSE
            WHEN regexp_matches(person, '^[0-9]+$') THEN FALSE
            ELSE TRUE END AS is_personalized,
       CASE WHEN person IS NOT NULL AND regexp_matches(person, '^[0-9]+$')
            THEN 400 ELSE 200 END AS status
FROM (SELECT event_id, {_PERSON_SQL} AS person FROM events)
""",
)
def greeting_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional projection (R2, ``src/handlers.py:67-88``): no
    person -> ('Hello!', false); numeric person -> 400 error row;
    otherwise personalized greeting + flag — branch-for-branch the
    reference handler, as one ``when`` chain."""
    events = load_table(spark, sf_dir, "events").withColumn("person", _person())
    person = F.col("person")
    numeric = person.rlike(r"^[0-9]+$")
    return events.select(
        "event_id",
        F.when(person.isNull(), F.lit("Hello!"))
        .when(numeric, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("Hello, "), person, F.lit("!")))
        .alias("phrase"),
        # error rows keep the default flag (the reference raises before
        # personalizing, src/handlers.py:82-86) — non-null so the
        # column stays a clean BooleanType
        F.when(person.isNull() | numeric, F.lit(False))
        .otherwise(F.lit(True))
        .alias("is_personalized"),
        F.when(person.isNotNull() & numeric, 400).otherwise(200).alias("status"),
    )


# ---------------------------------------------------------------------------
# R3 — JSON body parse with corrupt-record routing (the 415 path)
# ---------------------------------------------------------------------------


@register(
    "json_body_parse",
    oracle=f"""
SELECT event_id,
       CASE WHEN ok THEN CAST(json_extract_string(body, '$.k') AS INT) END AS k_val,
       CASE WHEN ok THEN 200 ELSE 415 END AS status,
       CASE WHEN NOT ok THEN 'Request payload must be formatted JSON' END AS error
FROM (
  SELECT event_id, body,
         CASE WHEN json_valid(body) THEN json_type(body) = 'OBJECT'
              ELSE FALSE END AS ok
  FROM (SELECT event_id, {_BODY_SQL} AS body FROM events)
)
""",
)
def json_body_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON string -> struct with corrupt routing (R3,
    ``api_gateway.py:126-137``): malformed body -> 415 'Request payload
    must be formatted JSON' instead of a failed job. Uses ``from_json``
    with ``columnNameOfCorruptRecord`` so bad rows carry their raw
    payload into the error branch."""
    events = load_table(spark, sf_dir, "events").withColumn("body", _body())
    parsed = F.from_json(
        "body",
        "k INT, _corrupt STRING",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    df = events.withColumn("p", parsed)
    corrupt = F.col("p._corrupt").isNotNull() | F.col("p").isNull()
    return df.select(
        "event_id",
        F.when(~corrupt, F.col("p.k")).alias("k_val"),
        F.when(~corrupt, 200).otherwise(415).alias("status"),
        F.when(corrupt, F.lit("Request payload must be formatted JSON")).alias(
            "error"
        ),
    )


# ---------------------------------------------------------------------------
# R4 — response serialization with header merge
# ---------------------------------------------------------------------------


@register(
    "json_serialize",
    oracle=f"""
SELECT event_id,
       CAST(status AS VARCHAR) AS status_code,
       CASE
         WHEN event_id % 11 = 0 THEN ''
         WHEN status = 200 THEN CAST(to_json(struct_pack(
              phrase := CASE WHEN person IS NULL THEN 'Hello!'
                             ELSE 'Hello, ' || person || '!' END,
              is_personalized := person IS NOT NULL)) AS VARCHAR)
         ELSE CAST(to_json(struct_pack(
              description := 'Bad request due to missing or malformed parameters',
              error := 'A number cannot be greeted')) AS VARCHAR)
       END AS body,
       CASE WHEN event_type = 'error' THEN 'text/plain'
            ELSE 'application/json' END AS content_type,
       '*' AS cors_origin
FROM (
  SELECT event_id, event_type, person,
         CASE WHEN person IS NOT NULL AND regexp_matches(person, '^[0-9]+$')
              THEN 400 ELSE 200 END AS status
  FROM (SELECT event_id, event_type, {_PERSON_SQL} AS person FROM events)
)
""",
)
def json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP-response record build (R4, ``api_gateway.py:63-96``):
    JSON-dump the body (empty string for the NO_CONTENT singleton,
    ``:12-14``/``:84``), stringify the status code (``:95``), merge
    default headers with extras where extras win (``:86-92``)."""
    events = load_table(spark, sf_dir, "events").withColumn("person", _person())
    person = F.col("person")
    numeric = person.isNotNull() & person.rlike(r"^[0-9]+$")
    status = F.when(numeric, 400).otherwise(200)
    greeting_body = F.to_json(
        F.struct(
            F.when(person.isNull(), F.lit("Hello!"))
            .otherwise(F.concat(F.lit("Hello, "), person, F.lit("!")))
            .alias("phrase"),
            person.isNotNull().alias("is_personalized"),
        )
    )
    error_body = F.to_json(
        F.struct(
            F.lit("Bad request due to missing or malformed parameters").alias(
                "description"
            ),
            F.lit("A number cannot be greeted").alias("error"),
        )
    )
    # Default headers merged with extras, extras winning (:91-92):
    # the error event_type carries an overriding Content-Type.
    default_headers = F.create_map(
        F.lit("Content-Type"), F.lit("application/json"),
        F.lit("Access-Control-Allow-Origin"), F.lit("*"),
    )
    extra_headers = F.when(
        F.col("event_type") == "error",
        F.create_map(F.lit("Content-Type"), F.lit("text/plain")),
    ).otherwise(F.create_map().cast("map<string,string>"))
    merged = F.map_concat(
        F.map_filter(
            default_headers, lambda k, _: ~F.map_contains_key(extra_headers, k)
        ),
        extra_headers,
    )
    return events.select(
        "event_id",
        status.cast("string").alias("status_code"),
        F.when(F.col("event_id") % 11 == 0, F.lit(""))  # NO_CONTENT
        .when(status == 200, greeting_body)
        .otherwise(error_body)
        .alias("body"),
        F.element_at(merged, "Content-Type").alias("content_type"),
        F.element_at(merged, "Access-Control-Allow-Origin").alias("cors_origin"),
    )


# ---------------------------------------------------------------------------
# R5 — error routing: class -> status table, success/error union
# ---------------------------------------------------------------------------

# The reference's exception table (common/exceptions.py:1-32).
_ERROR_CLASSES = [
    ("HTTPNotFoundError", 404, "Resource not found"),
    ("HTTPBadRequestError", 400, "Bad request due to missing or malformed parameters"),
    ("ServerError", 500, "Internal Server Error"),
    ("Unauthorized", 401, "Unauthorized"),
    ("UnsupportedMediaType", 415, "Unsupported Media Type"),
]

_ERROR_ROUTE_ORACLE = """
WITH classified AS (
  SELECT event_id,
         CASE CAST(user_id % 6 AS INT)
           WHEN 0 THEN 'HTTPNotFoundError'
           WHEN 1 THEN 'HTTPBadRequestError'
           WHEN 2 THEN 'ServerError'
           WHEN 3 THEN 'Unauthorized'
           WHEN 4 THEN 'UnsupportedMediaType'
         END AS exc
  FROM events
),
lut(exc, status, description) AS (
  VALUES ('HTTPNotFoundError', 404, 'Resource not found'),
         ('HTTPBadRequestError', 400, 'Bad request due to missing or malformed parameters'),
         ('ServerError', 500, 'Internal Server Error'),
         ('Unauthorized', 401, 'Unauthorized'),
         ('UnsupportedMediaType', 415, 'Unsupported Media Type')
)
SELECT c.event_id, l.status, l.description,
       'handled ' || c.exc AS error
FROM classified c JOIN lut l ON c.exc = l.exc
UNION ALL
SELECT event_id, 200 AS status, NULL AS description, NULL AS error
FROM classified WHERE exc IS NULL
"""


@register("error_route", oracle=_ERROR_ROUTE_ORACLE)
def error_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataflow error routing (R5, ``api_gateway.py:99-123``): rows
    raising a known ``HTTPError`` subclass map through the class ->
    (status, description) table into error records; clean rows pass as
    the success branch; the output is the union of both — the engine's
    reusable success∪error combinator. The class table is broadcast
    (it is 5 rows; the reference's analog is a Python class hierarchy,
    ``common/exceptions.py:1-32``)."""
    events = load_table(spark, sf_dir, "events")
    m = (F.col("user_id") % 6).cast("int")
    classified = events.select(
        "event_id",
        F.when(m == 0, "HTTPNotFoundError")
        .when(m == 1, "HTTPBadRequestError")
        .when(m == 2, "ServerError")
        .when(m == 3, "Unauthorized")
        .when(m == 4, "UnsupportedMediaType")
        .alias("exc"),
    )
    # the class hierarchy as literal lookup maps (SURVEY R5: "the
    # class→code table becomes a literal lookup map") — constant-folded
    # into the projection, no join, no broadcast
    status_map = F.create_map(
        *[F.lit(x) for exc, code, _ in _ERROR_CLASSES for x in (exc, code)]
    )
    desc_map = F.create_map(
        *[F.lit(x) for exc, _, desc in _ERROR_CLASSES for x in (exc, desc)]
    )
    errors = classified.filter(F.col("exc").isNotNull()).select(
        "event_id",
        F.element_at(status_map, F.col("exc")).alias("status"),
        F.element_at(desc_map, F.col("exc")).alias("description"),
        F.concat(F.lit("handled "), F.col("exc")).alias("error"),
    )
    successes = classified.filter(F.col("exc").isNull()).select(
        "event_id",
        F.lit(200).alias("status"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("error"),
    )
    return errors.unionByName(successes)


# ---------------------------------------------------------------------------
# R6 — bearer token extraction
# ---------------------------------------------------------------------------


@register(
    "bearer_extract",
    oracle=f"""
SELECT event_id,
       regexp_extract(auth, 'Bearer\\s+(.+)', 1) AS token,
       regexp_extract(auth, 'Bearer\\s+(.+)', 1) <> '' AS has_token
FROM (SELECT event_id, {_AUTH_SQL} AS auth FROM events)
""",
)
def bearer_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex group extraction (R6, ``src/handlers.py:32``):
    ``Bearer\\s+(.+)`` over the authorization header; no match -> ''
    (the reference would raise ``AttributeError`` — the engine routes
    instead of crashing)."""
    events = load_table(spark, sf_dir, "events").withColumn("auth", _auth())
    token = F.regexp_extract("auth", r"Bearer\s+(.+)", 1)
    return events.select(
        "event_id",
        token.alias("token"),
        (token != "").alias("has_token"),
    )


# ---------------------------------------------------------------------------
# R8 — method-ARN parse (multi-level split)
# ---------------------------------------------------------------------------


@register(
    "arn_parse",
    oracle=f"""
SELECT event_id,
       split_part(arn, ':', 4) AS region,
       split_part(arn, ':', 5) AS account_id,
       split_part(split_part(arn, ':', 6), '/', 1) AS api_id,
       split_part(split_part(arn, ':', 6), '/', 2) AS stage
FROM (SELECT event_id, {_ARN_SQL} AS arn FROM events)
""",
)
def arn_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level split + element access (R8,
    ``src/handlers.py:49-50``): ``methodArn.split(':')`` ->
    (region, account, apigateway_arn), then ``.split('/')`` ->
    (api_id, stage)."""
    events = load_table(spark, sf_dir, "events").withColumn("arn", _method_arn())
    parts = F.split("arn", ":")
    gw = F.split(F.element_at(parts, 6), "/")
    return events.select(
        "event_id",
        F.element_at(parts, 4).alias("region"),
        F.element_at(parts, 5).alias("account_id"),
        F.element_at(gw, 1).alias("api_id"),
        F.element_at(gw, 2).alias("stage"),
    )


# ---------------------------------------------------------------------------
# R9 — IAM policy construction (nested struct/array)
# ---------------------------------------------------------------------------


@register(
    "policy_build",
    oracle=f"""
SELECT event_id,
       CAST(user_id AS VARCHAR) AS principal_id,
       to_json(struct_pack(
         principalId := CAST(user_id AS VARCHAR),
         policyDocument := struct_pack(
           Version := '2012-10-17',
           Statement := list_value(struct_pack(
             Action := 'execute-api:Invoke',
             Effect := CASE WHEN user_id % 3 <> 0 THEN 'Allow' ELSE 'Deny' END,
             Resource := 'arn:aws:execute-api:' ||
               split_part(arn, ':', 4) || ':' || split_part(arn, ':', 5) || ':' ||
               split_part(split_part(arn, ':', 6), '/', 1) || '/' ||
               split_part(split_part(arn, ':', 6), '/', 2) || '/*'
           ))
         )
       )) AS policy_json
FROM (SELECT event_id, user_id, {_ARN_SQL} AS arn FROM events)
""",
)
def policy_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested allow/deny policy record (R9, ``src/handlers.py:51-64``):
    struct containing an array of structs, wildcard resource ARN via
    ``format_string`` — serialized to JSON for cross-engine hashing."""
    events = load_table(spark, sf_dir, "events").withColumn("arn", _method_arn())
    parts = F.split("arn", ":")
    gw = F.split(F.element_at(parts, 6), "/")
    resource = F.format_string(
        "arn:aws:execute-api:%s:%s:%s/%s/*",
        F.element_at(parts, 4),
        F.element_at(parts, 5),
        F.element_at(gw, 1),
        F.element_at(gw, 2),
    )
    authorized = F.col("user_id") % 3 != 0
    policy = F.struct(
        F.col("user_id").cast("string").alias("principalId"),
        F.struct(
            F.lit("2012-10-17").alias("Version"),
            F.array(
                F.struct(
                    F.lit("execute-api:Invoke").alias("Action"),
                    F.when(authorized, "Allow").otherwise("Deny").alias("Effect"),
                    resource.alias("Resource"),
                )
            ).alias("Statement"),
        ).alias("policyDocument"),
    )
    return events.select(
        "event_id",
        F.col("user_id").cast("string").alias("principal_id"),
        F.to_json(policy).alias("policy_json"),
    )


# ---------------------------------------------------------------------------
# R7 — JWT three-way verdict (the engine's one pandas_udf)
# ---------------------------------------------------------------------------


@register(
    "jwt_verify",
    oracle="""
SELECT event_id,
       CASE CAST(event_id % 3 AS INT)
         WHEN 0 THEN 'valid' WHEN 1 THEN 'expired' ELSE 'invalid'
       END AS verdict,
       CASE WHEN event_id % 3 = 2 THEN 'unknown_user'
            ELSE CAST(user_id AS VARCHAR) END AS principal_id,
       CASE CAST(event_id % 3 AS INT)
         WHEN 1 THEN 'Expired token' WHEN 2 THEN 'Invalid token'
       END AS message
FROM events
""",
)
def jwt_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way JWT verdict (R7, ``src/handlers.py:35-47``) — the
    engine's one mandated ``pandas_udf`` (HMAC-SHA256 has no Spark
    built-in).

    Tokens are synthesized on the fly (1/3 valid, 1/3 expired, 1/3
    bad-signature, keyed on ``event_id % 3``) and then *actually
    verified* by recomputing the HMAC and checking ``exp`` — the oracle
    predicts the verdict from the construction rule, so a broken
    verifier fails the hash check. PyJWT 1.7.1 semantics preserved:
    an expired-but-authentic token still yields a principal via
    unverified decode (``src/handlers.py:37-39``); a bad signature
    yields ``unknown_user``.

    ``widen_for_python`` sizes the UDF stage to its input first: one
    Python task per ``PY_TASK_BYTES`` of estimated input, at most one
    per slot. Per-row HMAC cost dominates row size, so a large
    single-row-group scan is spread over the cores; a small one stays
    one task, because each Python task also pays a fixed cost (one
    task at sf0.01, four at sf0.1 on four cores)."""
    events = widen_for_python(load_table(spark, sf_dir, "events"))
    df = events.withColumn(
        "token", jwt_build_token(F.col("user_id"), F.col("event_id"))
    )
    v = jwt_verify_token(F.col("token"))
    return df.select(
        "event_id",
        v["verdict"].alias("verdict"),
        v["principal_id"].alias("principal_id"),
        v["message"].alias("message"),
    )


# ---------------------------------------------------------------------------
# R12 — environment derivation (suffix filter + rename + lookup join)
# ---------------------------------------------------------------------------

_ENV_ROWS = [
    ("THOR_API_SECRET_KEY__SSM_KEY", "/thor/sandbox/secret_key"),
    ("DB_PASSWORD__SSM_KEY", "/svc/db_password"),
    ("API_TOKEN__SSM_KEY", "/svc/api_token"),
    ("MISSING__SSM_KEY", "/svc/not_in_store"),
    ("PLAIN_VAR", "plain-value"),
    ("LOG_LEVEL", "DEBUG"),
]

_PARAM_ROWS = [
    ("/thor/sandbox/secret_key", "thor-secret"),
    ("/svc/db_password", "hunter2"),
    ("/svc/api_token", "tok-123"),
    ("/svc/unrelated", "zzz"),
]

_ENV_DERIVE_ORACLE = """
WITH env(key, value) AS (
  VALUES ('THOR_API_SECRET_KEY__SSM_KEY', '/thor/sandbox/secret_key'),
         ('DB_PASSWORD__SSM_KEY', '/svc/db_password'),
         ('API_TOKEN__SSM_KEY', '/svc/api_token'),
         ('MISSING__SSM_KEY', '/svc/not_in_store'),
         ('PLAIN_VAR', 'plain-value'),
         ('LOG_LEVEL', 'DEBUG')
),
params(path, value) AS (
  VALUES ('/thor/sandbox/secret_key', 'thor-secret'),
         ('/svc/db_password', 'hunter2'),
         ('/svc/api_token', 'tok-123'),
         ('/svc/unrelated', 'zzz')
)
SELECT regexp_replace(e.key, '__SSM_KEY$', '') AS name,
       e.value AS path,
       p.value AS value
FROM env e JOIN params p ON e.value = p.path
WHERE e.key LIKE '%__SSM_KEY'
"""


@register("env_derive", oracle=_ENV_DERIVE_ORACLE)
def env_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-filter + rename + lookup join (R12, ``ssm.py:10-43``):
    scan a key-value table for ``*__SSM_KEY`` keys, strip the suffix
    (the reference's ``rpartition``, ``ssm.py:29``), and join the
    referenced paths against the parameter store (R11 bulk fetch,
    ``ssm.py:76-101`` — missing paths silently absent, per the mock
    semantics at ``tests/common/aws_utils/test_ssm.py:25-30``)."""
    env = spark.createDataFrame(_ENV_ROWS, "key string, value string")
    params = spark.createDataFrame(_PARAM_ROWS, "path string, value string")
    return (
        env.filter(F.col("key").endswith("__SSM_KEY"))
        .select(
            F.regexp_replace("key", "__SSM_KEY$", "").alias("name"),
            F.col("value").alias("path"),
        )
        .join(F.broadcast(params), "path", "inner")
        .select("name", "path", "value")
    )


@register(
    "quality_report",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM lineitem) AS n_rows,
  (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL) AS null_qty,
  (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
    AS bad_discount,
  (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0) AS bad_price,
  (SELECT COUNT(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lines,
  (SELECT COUNT(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey)) AS orphan_orders
""",
)
def quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row data-quality report over the star schema: null checks,
    domain-range rules, and referential integrity (orphan facts) —
    the validation layer (R14's boundary checks) applied to a
    warehouse instead of a request.

    Each column-rule is a conditional count inside ONE aggregate over
    each table (no per-rule passes); the two integrity checks are
    anti-join counts (orders broadcasts against lineitem's keys at
    this SF; at 100 TB they shuffle on the key like any fact-fact
    semi). All counts land in a single driver row — the shape a DQ
    scheduler alerts on.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    li_stats = li.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("l_quantity").isNull()).alias("null_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("bad_discount"),
        F.count_if(F.col("l_extendedprice") <= 0).alias("bad_price"),
    )
    orphan_lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("orphan_lines"))
    )
    orphan_orders = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_orders"))
    )
    return li_stats.crossJoin(orphan_lines).crossJoin(orphan_orders)
