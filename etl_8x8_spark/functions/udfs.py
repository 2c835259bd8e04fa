"""The engine's UDF surface — exactly one family: HMAC-SHA256 JWT
handling (SURVEY.md §2b "UDF surface").

HMAC has no Spark built-in, so this is the single place the engine
drops out of whole-stage codegen — implemented as vectorized
``pandas_udf``\\s (Arrow batch transfer, one Python call per ~10k rows)
rather than row-at-a-time UDFs. Everything else in the engine is pure
built-in expressions.

Semantics mirror the reference authorizer (``/root/reference/src/
handlers.py:35-47``) under PyJWT 1.7.1: a structurally valid token with
a good signature but expired ``exp`` still yields a principal via
unverified decode ('Expired token'); any signature/structure failure
yields ``unknown_user`` ('Invalid token').
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import time

import pandas as pd
from pyspark.sql import functions as F

from etl_8x8_spark.sources.readers import widen_to

# Fixed engine secret — the analog of the reference's SSM-fetched
# THOR_API_SECRET_KEY (serverless.core.yml:95).
JWT_SECRET = b"etl-8x8-engine-secret"

_HEADER_B64 = (
    base64.urlsafe_b64encode(b'{"alg":"HS256","typ":"JWT"}').rstrip(b"=").decode()
)

# exp values: far future (token valid until 2100) vs far past.
_EXP_FUTURE = 4102444800  # 2100-01-01
_EXP_PAST = 946684800  # 2000-01-01


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_decode(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def _sign(signing_input: bytes) -> str:
    # hmac.digest is the one-shot C fast path (no HMAC object per row)
    return _b64url(hmac.digest(JWT_SECRET, signing_input, "sha256"))


def _build_token_batch(user_id: pd.Series, event_id: pd.Series) -> pd.Series:
    """Deterministic token synthesis: ``event_id % 3`` selects
    valid (0) / expired (1) / bad-signature (2). The signature on
    branches 0-1 is a real HMAC-SHA256 over header.payload."""
    out = []
    for uid, eid in zip(user_id, event_id):
        branch = int(eid) % 3
        exp = _EXP_PAST if branch == 1 else _EXP_FUTURE
        # fixed key order == json.dumps(..., separators=(",", ":"))
        payload = (
            f'{{"exp":{exp},"user_id":{int(uid)},'
            f'"first_name":"First","last_name":"Last"}}'
        )
        signing_input = f"{_HEADER_B64}.{_b64url(payload.encode())}".encode()
        sig = _sign(signing_input) if branch != 2 else "tampered-signature"
        out.append(f"{signing_input.decode()}.{sig}")
    return pd.Series(out)


def _verify_token_batch(token: pd.Series) -> pd.DataFrame:
    """Three-way verdict by actually recomputing the HMAC and checking
    ``exp`` — not by inspecting how the token was built.

    - good signature + unexpired -> ('valid', user_id, NULL)
    - good signature + expired   -> ('expired', user_id, 'Expired token')
      (principal via unverified decode, PyJWT 1.7.1 ``verify=False``)
    - bad signature / malformed  -> ('invalid', 'unknown_user',
      'Invalid token')
    """
    now = time.time()
    verdicts, principals, messages = [], [], []
    for tok in token:
        verdict, principal, message = "invalid", "unknown_user", "Invalid token"
        try:
            header_b64, payload_b64, sig = str(tok).split(".")
            claims = json.loads(_b64url_decode(payload_b64))
            expected = _sign(f"{header_b64}.{payload_b64}".encode())
            if hmac.compare_digest(expected, sig):
                if float(claims.get("exp", 0)) < now:
                    verdict = "expired"
                    # unverified decode still yields the principal
                    principal = str(claims.get("user_id", "unknown_user"))
                    message = "Expired token"
                else:
                    verdict = "valid"
                    principal = str(claims["user_id"])
                    message = None
        except (ValueError, KeyError, json.JSONDecodeError):
            pass
        verdicts.append(verdict)
        principals.append(principal)
        messages.append(message)
    return pd.DataFrame(
        {"verdict": verdicts, "principal_id": principals, "message": messages}
    )


# pandas_udf parses its DDL return type against the active session, so
# the udfs must be constructed lazily (builders run under the driver's
# session, which doesn't exist at import time).
_UDF_CACHE: dict[str, object] = {}


def jwt_build_token(user_id, event_id):
    if "build" not in _UDF_CACHE:
        _UDF_CACHE["build"] = F.pandas_udf(_build_token_batch, "string")
    return _UDF_CACHE["build"](user_id, event_id)


def jwt_verify_token(token):
    if "verify" not in _UDF_CACHE:
        _UDF_CACHE["verify"] = F.pandas_udf(
            _verify_token_batch, "verdict string, principal_id string, message string"
        )
    return _UDF_CACHE["verify"](token)


#: estimated input bytes per Python task (see widen_for_python)
PY_TASK_BYTES = 512 * 1024


def widen_for_python(df):
    """Size a Python stage (``pandas_udf`` / ``mapInPandas``) to its
    input: ``min(defaultParallelism, ceil(input_bytes / PY_TASK_BYTES))``
    tasks, where ``input_bytes`` is Catalyst's size estimate of ``df``
    (read from the optimized plan's statistics, which runs no job).

    A single-row-group parquet file scans as one task, and then the
    Python chain runs serially however wide the cluster is: per-row
    Python cost dwarfs the row's bytes, so on a large input the task
    count is the throughput. But every Python task also pays a fixed
    cost that does not depend on its rows. With Spark's own daemon,
    pyspark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` once per task, and under Python
    3.11 each zipimporter on the worker's path then re-reads its
    archive's directory: 16 importers, 26,672 entries per task
    (LESSONS #64, #65). Engine sessions start the ``pyworker`` daemon,
    which takes Spark's archives off the worker's path. Measured at
    local[4] on a 4-core host with an identity ``mapInPandas`` over
    2,000 rows in reused workers, Python-worker CPU per run went from
    0.20-0.33 s to 0.02-0.05 s on 1 task, 0.96-1.30 s to 0.13-0.23 s
    on 4 and 1.97-2.74 s to 0.32-0.38 s on 8; whole-process-tree CPU
    from 0.50-0.91 s to 0.34-0.66 s, 1.66-2.25 s to 0.58-0.85 s and
    2.62-3.67 s to 0.96-1.22 s. So a task still costs something, and
    widening a small input to every slot still multiplies that for no
    gain.

    ``PY_TASK_BYTES`` (512 KiB) sizes a task at about 25k rows of the
    ``events`` scan (about 20.5 bytes per row on disk), about 0.5 s of
    ``jwt_verify`` HMAC work at 20 µs per row: about twice a task's
    fixed cost under Spark's daemon, and over ten times it under the
    engine's. So sf0.01 inputs (events 221 kB, the document payload
    projection 90 kB) run as one task, and sf0.1 events (2.0 MB) as 4.
    A plan Spark cannot size reports ``Long.MaxValue`` and gets full
    width; an input already as wide as the target is returned as is;
    the input must be scan-shaped (``readers.widen_to``).
    """
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    tasks = -(-int(stats.sizeInBytes()) // PY_TASK_BYTES)
    return widen_to(
        df, min(df.sparkSession.sparkContext.defaultParallelism, tasks)
    )
